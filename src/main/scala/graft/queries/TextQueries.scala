package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._

/** Text analysis over the documents table: statistics, tokenizers,
  * language id, quality scores, language models, search and span
  * corruption.
  */
object TextQueries {

  // ---- queries another query reuses (initialized before defs) -----

  // E3+: DSIR-shaped data selection — hashed-feature target-affinity
  // in exact ppm integers (see Text.dsirAffinity for the estimator
  // contract and why the log-ratio is swapped for the delta)
  val dsirAffinity: QueryDef =
    QueryDef("dsir_affinity", (s, dir) =>
      Text.dsirAffinity(Tables.documents(s, dir)),
      // same per-word polynomial hash as doc_fingerprint; integer div /
      // // are both truncating on the all-positive inputs here
      """WITH w AS (
           SELECT doc_id, lang,
             CAST((ascii(x) * 31 + length(x)) % 256 AS BIGINT) AS b
           FROM (SELECT doc_id, lang,
                   unnest(string_split(text, ' ')) AS x
                 FROM documents)),
         ft AS (SELECT b,
                  CAST(cnt * 1000000 // sum(cnt) OVER () AS BIGINT) AS f_t
                FROM (SELECT b, CAST(count(*) AS BIGINT) AS cnt
                      FROM w WHERE lang = 'en' GROUP BY b)),
         fr AS (SELECT b,
                  CAST(cnt * 1000000 // sum(cnt) OVER () AS BIGINT) AS f_r
                FROM (SELECT b, CAST(count(*) AS BIGINT) AS cnt
                      FROM w GROUP BY b)),
         d AS (SELECT fr.b, COALESCE(f_t, 0) - f_r AS delta
               FROM fr LEFT JOIN ft ON fr.b = ft.b)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(delta) AS BIGINT) AS affinity
         FROM w JOIN d ON w.b = d.b
         GROUP BY 1""")

  // E3+: in-engine quality-probe TRAINING (CCNet/GPT-3-style "learn a
  // cheap filter over the corpus"): 6 batch-GD steps, each ONE corpus
  // scan to a 4-number DECIMAL gradient; rational fast-sigmoid link so
  // the oracle replays every step bit-for-bit (no transcendentals)
  val qualityProbe: QueryDef =
    QueryDef("quality_probe", (s, dir) =>
      Text.qualityProbe(Tables.documents(s, dir)),
      // independent algorithm for the same exact integers: the op folds
      // sorted in-row n-gram runs; the oracle explodes every n-gram and
      // two-level-groups. Fractions are single divisions of exact longs.
      // the identical training loop unrolled + materialized per step,
      // generated beside the operator (the pcaPower precedent)
      Text.qualityProbeOracleSql())

  val defs: Seq[QueryDef] = Seq(
    // interpolated Kneser-Ney bigram LM; D=3/4 keeps terms rational
    QueryDef("kneser_ney_lm", (s, dir) =>
      Text.kneserNeyLm(Tables.documents(s, dir), topN = 20),
      // contexts/continuations from the bigram TYPE table; D = 3/4
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
           bg AS (SELECT words[g+1] AS w1, words[g+2] AS w2
                  FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                  WHERE len(words) >= 2),
           pc AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
           cx AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c_w1,
                   count(*) AS t_w1 FROM pc GROUP BY 1),
           cn AS (SELECT w2, count(*) AS cont_w2 FROM pc GROUP BY 1),
           tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM pc)
         SELECT pc.w1, pc.w2, pc.n, c_w1, t_w1, cont_w2,
           round(CAST(4 * CAST(pc.n AS HUGEINT) - 3 AS DOUBLE)
               / CAST(4 * CAST(c_w1 AS HUGEINT) AS DOUBLE)
             + CAST(3 * CAST(t_w1 AS HUGEINT) * cont_w2 AS DOUBLE)
               / CAST(4 * CAST(c_w1 AS HUGEINT) * tt AS DOUBLE), 6) AS p_kn
         FROM pc JOIN cx USING (w1) JOIN cn USING (w2) CROSS JOIN tt
         ORDER BY pc.n DESC, pc.w1 ASC, pc.w2 ASC LIMIT 20"""),

    // deterministic 15% MLM masking by (doc_id, position) hash
    QueryDef("mlm_mask", (s, dir) =>
      Text.mlmMask(Tables.documents(s, dir)),
      // same (doc_id, pos) hash; string_agg ORDER BY pos rebuilds the doc
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
             FROM documents),
           x AS (SELECT doc_id, g AS pos, words[g+1] AS tok,
                   ((doc_id * 131 + g) * 1000003 % 1000000007) % 100 < 15
                     AS m
                 FROM w, UNNEST(range(len(words))) AS t(g))
         SELECT doc_id,
           string_agg(CASE WHEN m THEN '[MASK]' ELSE tok END,
             ' ' ORDER BY pos) AS masked_text,
           CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           coalesce(string_agg(CASE WHEN m THEN pos || ':' || tok END,
             ',' ORDER BY pos), '') AS labels
         FROM x GROUP BY 1"""),

    // per-source top-25% quality retention: integer rank cut within
    // each stratum (a global score threshold would empty weak domains)
    QueryDef("quality_cut", (s, dir) =>
      Shard.qualityTopCut(
        Text.qualityScore(Tables.documents(s, dir), keep = Seq("source")),
        stratum = col("source"), score = col("score"),
        id = col("doc_id"), keepPct = 25)
        .select(col("doc_id"), col("source"), col("n_words"), col("score")),
      // same score CTE as quality_score/quality_sample; the cut is exact
      // integer window-rank arithmetic (rn*100 <= n*keepPct)
      """WITH q AS (SELECT doc_id, source,
               CAST(n_words AS BIGINT) AS n_words,
               0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
                 + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score
             FROM (SELECT doc_id, source,
                     len(string_split(text, ' ')) AS n_words,
                     CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                     CAST(len(list_filter(string_split(text, ' '),
                                          w -> w IN ('the', 'a'))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
                   FROM documents)),
         r AS (SELECT q.*,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
               FROM q)
         SELECT doc_id, source, n_words, score FROM r
         WHERE rn * 100 <= n * 25"""),

    // distinct-n corpus diversity per source (n = 1..3) — the
    // repetitiveness/degeneracy readout before any pairwise dedup
    QueryDef("ngram_diversity", (s, dir) =>
      Text.ngramDiversity(Tables.documents(s, dir)),
      // same per-n gram expansion; ratio is one exact-long division
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws
                    FROM documents),
         u1 AS (SELECT source, unnest(ws) AS gram FROM w),
         u2 AS (SELECT source, array_to_string(ws[g+1:g+2], ' ') AS gram
                FROM w, UNNEST(range(len(ws) - 1)) AS t(g)
                WHERE len(ws) >= 2),
         u3 AS (SELECT source, array_to_string(ws[g+1:g+3], ' ') AS gram
                FROM w, UNNEST(range(len(ws) - 2)) AS t(g)
                WHERE len(ws) >= 3)
         SELECT source, 1 AS n, count(*) AS total,
           count(DISTINCT gram) AS n_distinct,
           CAST(count(DISTINCT gram) AS DOUBLE) / count(*) AS distinct_ratio
         FROM u1 GROUP BY 1
         UNION ALL
         SELECT source, 2, count(*), count(DISTINCT gram),
           CAST(count(DISTINCT gram) AS DOUBLE) / count(*)
         FROM u2 GROUP BY 1
         UNION ALL
         SELECT source, 3, count(*), count(DISTINCT gram),
           CAST(count(DISTINCT gram) AS DOUBLE) / count(*)
         FROM u3 GROUP BY 1"""),

    // OOV-rate proxy: share of token occurrences inside the top-100 vocab
    QueryDef("vocab_coverage", (s, dir) =>
      Text.vocabCoverage(Tables.documents(s, dir), topK = 100),
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
                      FROM documents),
           v AS (SELECT w FROM (SELECT w, count(*) AS n FROM tok GROUP BY w)
                 ORDER BY n DESC, w ASC LIMIT 100)
         SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END) AS BIGINT)
             AS in_vocab,
           CAST(sum(CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS coverage
         FROM tok GROUP BY doc_id"""),

    // self-perplexity proxy: mean bigram P(w2|w1) under the corpus LM
    QueryDef("doc_lm_score", (s, dir) =>
      Text.docLmScore(Tables.documents(s, dir)),
      // mean P(w2|w1) folded in position order (list_reduce) to mirror the
      // Spark op's deterministic sequential sum
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           bg AS (SELECT doc_id, g AS pos, words[g+1] AS w1, words[g+2] AS w2
                  FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                  WHERE len(words) >= 2),
           cnt AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
           pre AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS np FROM cnt GROUP BY 1),
           lm AS (SELECT w1, w2, CAST(nb AS DOUBLE) / np AS p
                  FROM cnt JOIN pre USING (w1)),
           j AS (SELECT doc_id, pos, p FROM bg JOIN lm USING (w1, w2)),
           a AS (SELECT doc_id, list(p ORDER BY pos ASC) AS ps, count(*) AS nbg
                 FROM j GROUP BY doc_id)
         SELECT doc_id, nbg AS n_bigrams,
           list_reduce(list_prepend(0.0, ps), (acc, x) -> acc + x) / nbg AS lm_score
         FROM a"""),

    QueryDef("text_stats", (s, dir) =>
      Text.textStats(Tables.documents(s, dir)),
      """SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr
         FROM documents"""),

    QueryDef("token_count", (s, dir) =>
      Text.tokenCount(Tables.documents(s, dir)),
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang"""),

    QueryDef("quality_score", (s, dir) =>
      Text.qualityScore(Tables.documents(s, dir)),
      """SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, ttr, stop_ratio,
           0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
             + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score
         FROM (SELECT doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                 CAST(len(list_filter(string_split(text, ' '),
                                      w -> w IN ('the', 'a'))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
               FROM documents)"""),

    // quality-proportional deterministic sampling (upsample good docs):
    // keep iff hash(id) mod 1000 < floor(score * 1000) — no shuffle
    QueryDef("quality_sample", (s, dir) =>
      Shard.qualityWeightedSample(
        Text.qualityScore(Tables.documents(s, dir)),
        col("doc_id"), col("score"))
        .select(col("doc_id"), col("n_words"), col("score")),
      // same score arithmetic; the keep rule is exact integer hashing on
      // the bit-identical double (floor lands identically cross-engine)
      """WITH q AS (SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
                 + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score
             FROM (SELECT doc_id,
                     len(string_split(text, ' ')) AS n_words,
                     CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                     CAST(len(list_filter(string_split(text, ' '),
                                          w -> w IN ('the', 'a'))) AS DOUBLE)
                       / CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio
                   FROM documents))
         SELECT doc_id, n_words, score FROM q
         WHERE (doc_id * 1000003 % 1000000007) % 1000 < floor(score * 1000)"""),

    QueryDef("lang_id", (s, dir) =>
      Text.langId(Tables.documents(s, dir)),
      """SELECT doc_id, lang,
           CASE WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es THEN 'de'
                WHEN s_en > 0 AND s_en >= s_es THEN 'en'
                WHEN s_es > 0 THEN 'es'
                ELSE 'und' END AS pred_lang
         FROM (SELECT doc_id, lang,
                 len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS s_en,
                 len(list_filter(string_split(text, ' '), w -> w IN ('la', 'el'))) AS s_es,
                 len(list_filter(string_split(text, ' '), w -> w IN ('der', 'die'))) AS s_de
               FROM documents)"""),

    // Cavnar-Trenkle char-trigram rank profiles + out-of-place distance
    // (exact integers; see scaladoc degeneracy note re: synthetic langs)
    QueryDef("langid_ngram", (s, dir) =>
      Text.langIdNgram(Tables.documents(s, dir)),
      // same trigram ranks (freq desc, gram asc), out-of-place penalty
      // (miss = profileK), argmin with lang-asc tiebreak
      """WITH g AS (SELECT doc_id, lang,
               unnest(list_transform(range(len(text) - 2),
                 i -> text[i+1:i+3])) AS g
             FROM documents WHERE len(text) >= 3),
         prof AS (SELECT lang AS plang, g,
               row_number() OVER (PARTITION BY lang
                 ORDER BY count(*) DESC, g) AS lrank
             FROM g GROUP BY lang, g
             QUALIFY lrank <= 40),
         dt AS (SELECT doc_id, g,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY count(*) DESC, g) AS drank
             FROM g GROUP BY doc_id, g
             QUALIFY drank <= 20),
         langs AS (SELECT DISTINCT plang FROM prof),
         pens AS (SELECT dt.doc_id, l.plang,
               coalesce(abs(dt.drank - p.lrank), 40) AS pen
             FROM dt CROSS JOIN langs l
             LEFT JOIN prof p ON p.plang = l.plang AND p.g = dt.g),
         d AS (SELECT doc_id, plang, CAST(sum(pen) AS BIGINT) AS dist
             FROM pens GROUP BY 1, 2),
         best AS (SELECT doc_id, plang, dist,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY dist, plang) AS rn
             FROM d)
         SELECT doc.doc_id, doc.lang,
           coalesce(b.plang, 'und') AS pred_lang, b.dist
         FROM documents doc
         LEFT JOIN best b ON b.doc_id = doc.doc_id AND b.rn = 1"""),

    QueryDef("doc_fingerprint", (s, dir) =>
      Text.docFingerprint(Tables.documents(s, dir)),
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              w -> CAST(ascii(w) * 31 + length(w) AS BIGINT))),
             (a, b) -> (a * 1000003 + b) % 1000000007) AS fingerprint
         FROM documents"""),

    dsirAffinity,

    // E3+: the real BPE training loop (Sennrich 2016) on vocab-sized
    // state; the oracle replays all 5 rounds including the greedy
    // left-to-right merge fold (Text.bpeTrainOracleSql)
    QueryDef("bpe_train", (s, dir) =>
      Text.bpeTrain(Tables.documents(s, dir)),
      // the whole training loop unrolled, merge fold included
      Text.bpeTrainOracleSql()),

    // E3+: the encode half — per-doc tokenizer fertility after the
    // learned merges; encoding is ONE join against the vocab state
    QueryDef("bpe_encode", (s, dir) =>
      Text.bpeEncode(Tables.documents(s, dir)),
      // same unrolled loop + the corpus joined to the final vocab state
      Text.bpeEncodeOracleSql()),

    // E3+: T5 span corruption — deterministic hash-driven span masking
    // with numbered sentinels; zero-shuffle projection
    QueryDef("span_corrupt", (s, dir) =>
      Text.spanCorrupt(Tables.documents(s, dir)),
      // fold generated by the same code as the op's parameters
      Text.spanCorruptOracleSql()),

    // E3+: FIM prefix/suffix/middle reorder at hash-chosen cuts
    QueryDef("fim_split", (s, dir) =>
      Text.fimSplit(Tables.documents(s, dir)),
      // same hash order statistics, 1-based inclusive list slicing
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
             CAST((doc_id * 1000003) % 1000000007 % (n + 1) AS INT) AS h1,
             CAST((doc_id * 131 + 7) % 1000000007 % (n + 1) AS INT) AS h2
           FROM t)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(least(h1, h2) AS BIGINT) AS n_prefix,
           CAST(greatest(h1, h2) - least(h1, h2) AS BIGINT) AS n_middle,
           CAST(n - greatest(h1, h2) AS BIGINT) AS n_suffix,
           '<PRE> ' ||
           COALESCE(array_to_string(toks[1:least(h1, h2)], ' '), '') ||
           ' <SUF> ' ||
           COALESCE(array_to_string(toks[greatest(h1, h2) + 1:n], ' '), '') ||
           ' <MID> ' ||
           COALESCE(array_to_string(
             toks[least(h1, h2) + 1:greatest(h1, h2)], ' '), '')
             AS fim_text
         FROM c"""),

    // E3+: UL2 mixture-of-denoisers — hash-routed R/X/S objectives
    QueryDef("denoiser_mix", (s, dir) =>
      Text.denoiserMix(Tables.documents(s, dir)),
      // R/X folds over hash slices + the S prefix-LM branch, unioned
      Text.denoiserMixOracleSql()),

    // E3+: fixed-budget mixture planning — exact epochs + residual
    // sampling rate per language
    QueryDef("token_budget_plan", (s, dir) =>
      Text.tokenBudgetPlan(Tables.documents(s, dir)),
      // exact integer plan arithmetic over per-language token counts
      """WITH a AS (SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS avail_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT * FROM (VALUES ('en', 500), ('zh', 200),
             ('de', 100), ('fr', 100), ('es', 100)) v(lang, w_pm)),
         t AS (SELECT a.lang, avail_tokens, CAST(w_pm AS BIGINT) AS w_pm,
             CAST(1000000 * w_pm // 1000 AS BIGINT) AS target_tokens
           FROM a JOIN w ON a.lang = w.lang)
         SELECT lang, avail_tokens, w_pm, target_tokens,
           CAST(target_tokens // avail_tokens AS BIGINT) AS full_epochs,
           CAST((target_tokens % avail_tokens) * 1000000 // avail_tokens
             AS BIGINT) AS residual_rate_ppm
         FROM t"""),

    // E3+: pruning-threshold sweep — survivors per score decile from
    // one scan (reverse-cumulative bucket counts)
    QueryDef("quality_prune_curve", (s, dir) =>
      Text.qualityPruneCurve(Tables.documents(s, dir)),
      // same score; decile floor on the bit-identical double; reverse
      // cumulative over the <= 10 bucket rows
      """WITH s AS (
           SELECT 0.5 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)
               + 0.3 * ttr + 0.2 * (1.0 - stop_ratio) AS score,
             n_words
           FROM (SELECT len(string_split(text, ' ')) AS n_words,
                   CAST(len(list_distinct(string_split(text, ' ')))
                     AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS BIGINT) AS ttr,
                   CAST(len(list_filter(string_split(text, ' '),
                                        w -> w IN ('the', 'a'))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS BIGINT)
                     AS stop_ratio
                 FROM documents)),
         b AS (SELECT least(CAST(floor(score * 10) AS INT), 9) AS b,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS n_tokens
           FROM s GROUP BY 1)
         SELECT b AS thr_decile,
           CAST(sum(n_docs) OVER (ORDER BY b DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS docs_kept,
           CAST(sum(n_tokens) OVER (ORDER BY b DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS tokens_kept
         FROM b"""),

    qualityProbe,

    // E3+ (ingest hygiene, the fix_encoding sibling): UTS #39
    // confusable-skeleton normalization. The corpus is pure ASCII, so
    // every 6th doc gets word 2 homoglyph-swapped (a MIXED-script word
    // — the spoof signal) and every 9th-not-6th appends a pure-Cyrillic
    // lookalike word (confusables WITHOUT mixing), both derived from
    // the one table and mirrored in the generated oracle
    QueryDef("confusable_normalize", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val ws = split(col("text"), " ")
      val m = size(ws)
      val w2 = Text.confusableInjectPairs.foldLeft(element_at(ws, 2)) {
        case (c, (g, b)) => replace(c, lit(g), lit(b))
      }
      val injected =
        when(col("doc_id") % 6 === 0 && m >= 3,
          concat(element_at(ws, 1), lit(" "), w2, lit(" "),
            array_join(slice(ws, lit(3), m - lit(2)), " ")))
          .when(col("doc_id") % 9 === 0 && col("doc_id") % 6 =!= 0,
            concat(col("text"), lit(" " + Text.confusablePureWord)))
          .otherwise(col("text"))
      Text.confusableNormalize(base.select(col("doc_id"),
        injected.as("text")))
    },
      // generated beside the operator from the ONE confusable table +
      // derived injection pairs (the fixEncodingOracleSql precedent)
      Text.confusableNormalizeOracleSql()),

    // E3+: CCNet head/middle/tail perplexity terciles per language
    QueryDef("ccnet_buckets", (s, dir) =>
      Text.ccnetBuckets(Tables.documents(s, dir)),
      // doc_lm_score's chain verbatim, then the per-language tercile on
      // the bit-identical double (doc_id tiebreak fixes the boundary)
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
           bg AS (SELECT doc_id, g AS pos, words[g+1] AS w1, words[g+2] AS w2
                  FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                  WHERE len(words) >= 2),
           cnt AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
           pre AS (SELECT w1, CAST(sum(nb) AS BIGINT) AS np FROM cnt GROUP BY 1),
           lm AS (SELECT w1, w2, CAST(nb AS DOUBLE) / np AS p
                  FROM cnt JOIN pre USING (w1)),
           j AS (SELECT doc_id, pos, p FROM bg JOIN lm USING (w1, w2)),
           a AS (SELECT doc_id, list(p ORDER BY pos ASC) AS ps, count(*) AS nbg
                 FROM j GROUP BY doc_id),
           sc AS (SELECT doc_id,
                    list_reduce(list_prepend(0.0, ps), (acc, x) -> acc + x)
                      / nbg AS lm_score
                  FROM a),
           t AS (SELECT sc.doc_id, d.lang, sc.lm_score,
                   CAST(ntile(3) OVER (PARTITION BY d.lang
                     ORDER BY sc.lm_score DESC, sc.doc_id) AS INT) AS tercile
                 FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
         SELECT doc_id, lang, lm_score, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM t"""),

    // E3+: training-mixture report — per-language corpus composition.
    // Only order-independent aggregates (counts, exact sums, min/max):
    // a mean of doubles would vary with partial-agg order.
    QueryDef("corpus_report", (s, dir) =>
      Tables.documents(s, dir).select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens")),
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
         FROM documents GROUP BY lang"""),

    // E3+: quality gate — keep/drop with the first failed rule (length
    // bounds then stopword-free heuristic), the filter stage ahead of
    // training-data export
    QueryDef("quality_filter", (s, dir) => {
      val nWords = size(split(col("text"), " "))
      Tables.documents(s, dir).select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        when(nWords < 20, "too_short")
          .when(nWords > 400, "too_long")
          .when(!col("text").contains(" the ") && !col("text").contains(" la ") &&
                !col("text").contains(" der "), "no_stopwords")
          .otherwise("keep").as("verdict"))
    },
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CASE WHEN len(string_split(text, ' ')) < 20 THEN 'too_short'
                WHEN len(string_split(text, ' ')) > 400 THEN 'too_long'
                WHEN NOT contains(text, ' the ') AND NOT contains(text, ' la ')
                     AND NOT contains(text, ' der ') THEN 'no_stopwords'
                ELSE 'keep' END AS verdict
         FROM documents"""),

    // E3+: deterministic sequence packing — contiguous docs (doc_id
    // order) packed into token-budget bins via an exclusive prefix sum;
    // at scale the same window runs per shard, not globally
    QueryDef("pack_bins", (s, dir) => {
      val budget = 2048L
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("doc_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("prefix", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("n_tokens"),
          floor(col("prefix") / budget).cast("long").as("bin_id"))
    },
      """SELECT doc_id, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT)
             AS bin_id
         FROM (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents)"""),

    // E3+: fixed-size token chunking with overlap — the training-prep
    // transform that turns documents into model-sized examples. Pure
    // expressions: slice windows per row, one explode, no shuffle.
    QueryDef("doc_chunking", (s, dir) => {
      val chunkTokens = 64
      val stride = 48 // 16-token overlap
      val w = split(col("text"), " ")
      val nChunks = greatest(
        ceil((size(w) - lit(chunkTokens)) / lit(stride.toDouble)).cast("int") + 1,
        lit(1))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nChunks - 1),
            i => array_join(slice(w, i * stride + 1, lit(chunkTokens)), " "))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          col("col").as("chunk_text"),
          size(split(col("col"), " ")).cast("long").as("n_tokens"))
    },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         n AS (SELECT doc_id, words,
                 greatest(CAST(ceil((len(words) - 64) / 48.0) AS INT) + 1, 1) AS nc
               FROM w)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(words[i*48+1 : i*48+64], ' ') AS chunk_text,
           CAST(len(string_split(array_to_string(words[i*48+1 : i*48+64], ' '), ' '))
             AS BIGINT) AS n_tokens
         FROM n, UNNEST(range(nc)) AS t(i)"""),

    // E3+: cleaning/masking pass — digit runs masked, whitespace
    // collapsed, lowercased (the normalize step ahead of dedup/quality)
    QueryDef("text_clean", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[0-9]+", "<num>"), " +", " ")).as("clean_text")),
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
             '[0-9]+', '<num>', 'g'), ' +', ' ', 'g')) AS clean_text
         FROM documents"""),

    // E3+: corpus vocabulary, top-20 terms by frequency (tie: term asc)
    QueryDef("vocab_topk", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term").asc)
        .limit(20),
      """WITH terms AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         SELECT term, count(*) AS freq FROM terms GROUP BY term
         ORDER BY freq DESC, term ASC LIMIT 20"""),

    // array-function surface over tokenized documents; outputs are
    // projected to scalars (the driver's row-sort rejects array cells)
    QueryDef("array_funcs", (s, dir) => {
      val words = split(col("text"), " ")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(words).cast("long").as("n_words"),
        array_join(slice(sort_array(words), 1, 3), ",").as("first3_sorted"),
        array_contains(words, "the").as("has_the"),
        element_at(words, 1).as("head_word"),
        element_at(words, -1).as("last_word"))
    },
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           array_to_string(list_sort(string_split(text, ' '))[1:3], ',') AS first3_sorted,
           list_contains(string_split(text, ' '), 'the') AS has_the,
           string_split(text, ' ')[1] AS head_word,
           string_split(text, ' ')[-1] AS last_word
         FROM documents"""),

    // per-document top-3 salient terms by tf/df (linear idf — same
    // ranking as tf·N/df, and the single double division is the same
    // IEEE op in both engines); ties break on the term
    QueryDef("tfidf_topterms", (s, dir) => {
      val terms = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = terms.groupBy(col("term"))
        .agg(count_distinct(col("doc_id")).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df, "term")
        .withColumn("score", col("tf").cast("double") / col("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rank"))
    },
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                        FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1)
         SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS rank
         FROM tf JOIN df USING (term)
         QUALIFY rank <= 3"""),

    // higher-order array functions (transform/filter/aggregate/exists)
    QueryDef("hof_funcs", (s, dir) => {
      val w = split(col("text"), " ")
      Tables.documents(s, dir).select(
        col("doc_id"),
        aggregate(transform(w, x => length(x).cast("long")), lit(0L),
          (a, x) => a + x).as("total_len"),
        size(filter(w, x => length(x) > 3)).cast("long").as("n_long_words"),
        array_join(slice(transform(w, x => upper(x)), 1, 2), " ").as("up2"),
        exists(w, x => x === "the").as("has_the"))
    },
      """SELECT doc_id,
           CAST(list_sum(list_transform(string_split(text, ' '),
             x -> length(x))) AS BIGINT) AS total_len,
           CAST(len(list_filter(string_split(text, ' '),
             x -> length(x) > 3)) AS BIGINT) AS n_long_words,
           array_to_string(list_transform(string_split(text, ' '),
             x -> upper(x))[1:2], ' ') AS up2,
           len(list_filter(string_split(text, ' '), x -> x = 'the')) > 0 AS has_the
         FROM documents"""),

    // BPE-ish regex tokenizer (alternation of letter/digit runs)
    QueryDef("token_count_regex", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+"), lit(0))).cast("long").as("n_tokens")),
      """SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens
         FROM documents"""),

    // PII redaction over deterministically-augmented text (the synthetic
    // corpus carries no natural PII; the augmentation is mirrored in the
    // oracle so the redaction itself is what's verified)
    QueryDef("pii_redact", (s, dir) =>
      Scrub.piiRedact(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"),
            lit(" contact u"), col("doc_id"), lit("@example.com via 10.0."),
            pmod(col("doc_id"), lit(256)), lit(".7 tel 555-01"),
            lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")
          ).as("text"))),
      // augmentation mirrored from the Spark registration; DuckDB regexps
      // are RE2 — the patterns use only shared syntax
      """WITH aug AS (SELECT doc_id,
             text || ' contact u' || doc_id || '@example.com via 10.0.'
                  || (doc_id % 256) || '.7 tel 555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text,
             '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones
         FROM aug"""),

    // corpus-level boilerplate removal: tokens in > 50% of documents
    QueryDef("boilerplate_strip", (s, dir) =>
      Scrub.boilerplateStrip(Tables.documents(s, dir), dfFrac = 0.5),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         tok AS (SELECT doc_id, g AS pos, words[g+1] AS word
                 FROM w, UNNEST(range(len(words))) AS t(g)),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         stop AS (SELECT word FROM df, n WHERE df > n_docs * 0.5),
         kept AS (SELECT doc_id, pos, word FROM tok
                  WHERE word NOT IN (SELECT word FROM stop))
         SELECT d.doc_id,
           coalesce(string_agg(k.word, ' ' ORDER BY k.pos), '') AS clean_text,
           count(k.word) AS n_kept
         FROM documents d LEFT JOIN kept k USING (doc_id)
         GROUP BY d.doc_id"""),

    // winnowing (MOSS) fingerprints: per-window min k-gram hash,
    // rightmost tie-break — zero-shuffle projection
    QueryDef("winnowing", (s, dir) =>
      Text.winnowing(Tables.documents(s, dir)),
      // same polynomial k-gram hash as doc_fingerprint; per-window min with
      // rightmost tie-break; row-level DISTINCT == the per-row dedup
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         h AS (SELECT doc_id,
                 list_transform(range(len(ws) - 3), g ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws[g+1:g+4],
                       x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
                     (a, b) -> (a * 1000003 + b) % 1000000007)) AS hs
               FROM t WHERE len(ws) >= 4)
         SELECT DISTINCT doc_id,
           CAST((list_filter(range(s, s+4),
             j -> hs[j+1] = list_min(hs[s+1:s+4])))[-1] AS BIGINT) AS pos,
           list_min(hs[s+1:s+4]) AS fp
         FROM h, UNNEST(range(len(hs) - 3)) AS u(s)"""),

    // E3+: Unicode canonicalization ahead of the hash-dedup family
    // (NFC here — the DuckDB-expressible subset; production uses NFKC).
    // The corpus is ASCII, so mixed composed/decomposed accents, a C0
    // control, and ragged whitespace are injected deterministically —
    // the normalization itself is what the oracle verifies
    QueryDef("text_normalize", (s, dir) => {
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          // even ids: decomposed e+U+0301, odd ids: composed U+00E9;
          // NFC maps both to identical bytes
          when(col("doc_id") % 2 === 0, lit("Cafe\u0301"))
            .otherwise(lit("Caf\u00e9")),
          lit("\u0007\t "), col("text"), lit("  \n")).as("text"))
      Text.textNormalize(aug, form = "NFC")
        .select(col("doc_id"), col("text"), col("content_hash"))
    },
      // same augmentation (chr codes restate the Scala \u escapes), same
      // step order: control-strip → NFC → whitespace-collapse → trim
      // (strip FIRST, so removals never create un-normalized adjacencies
      // — the idempotence property). Explicit char classes (not \s) so
      // Java regex and RE2 agree
      """WITH aug AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'Cafe' || chr(769)
                 ELSE 'Caf' || chr(233) END)
           || chr(7) || chr(9) || ' ' || text || '  ' || chr(10) AS text
         FROM documents),
         n AS (SELECT doc_id,
           trim(regexp_replace(nfc_normalize(
             regexp_replace(text, '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g')),
             '[ \t\n\r\f]+', ' ', 'g')) AS text
         FROM aug)
         SELECT doc_id, text, sha256(text) AS content_hash FROM n"""),

    // character-entropy quality signal (deterministic fold order)
    QueryDef("char_entropy", (s, dir) =>
      Text.charEntropy(Tables.documents(s, dir)),
      // identical fold order (sorted distinct chars, left-to-right) and the
      // same 1e-6 rounding of the lone transcendental
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           CASE WHEN length(text) = 0 THEN 0.0
           ELSE round((ln(CAST(length(text) AS DOUBLE)) -
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_sort(list_distinct(string_split(text, ''))),
                 ch -> CAST(length(text) - length(replace(text, ch, '')) AS DOUBLE) *
                       ln(CAST(length(text) - length(replace(text, ch, '')) AS DOUBLE)))),
               (a, b) -> a + b) / length(text)) / ln(2.0), 6) END AS entropy_bits
         FROM documents"""),

    // lexicon-ratio blocklist filter (C4-style)
    QueryDef("wordlist_filter", (s, dir) =>
      Text.wordlistFilter(Tables.documents(s, dir),
        lexicon = Seq("dup", "slow", "spark"), maxRatio = 0.10),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ws, x -> list_contains(['dup','slow','spark'], x)))
             AS BIGINT) AS n_hits,
           CAST(len(list_filter(ws, x -> list_contains(['dup','slow','spark'], x)))
             AS DOUBLE) / len(ws) AS hit_ratio,
           CAST(len(list_filter(ws, x -> list_contains(['dup','slow','spark'], x)))
             AS DOUBLE) / len(ws) <= 0.10 AS keep
         FROM t"""),

    // per-segment language ID: code-switching docs the whole-doc
    // classifier misses. The synthetic corpus is single-language per
    // doc, so is_mixed would be STRUCTURALLY false (the gopher
    // dup-column class) — every 7th doc gets a deterministic
    // code-switch injection (an en-marker chunk then es-marker chunks,
    // mirrored in the oracle) so the flag provably fires
    QueryDef("segment_langid", (s, dir) =>
      Text.segmentLangId(Tables.documents(s, dir).select(
        col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" " + Seq.fill(16)("the").mkString(" ") +
                " " + Seq.fill(32)("la").mkString(" ")))
            .otherwise(lit(""))).as("text"))),
      // same chunking, marker scores, prediction rule, and
      // (count desc, lang asc) majority; same every-7th-doc code-switch
      // injection (16 en markers + 32 es markers)
      """WITH w AS (SELECT doc_id, string_split(
                      text || CASE WHEN doc_id % 7 = 0
                        THEN repeat(' the', 16) || repeat(' la', 32)
                        ELSE '' END, ' ') AS ws
                    FROM documents),
         segs AS (SELECT doc_id,
             array_to_string(
               ws[CAST(i*16+1 AS BIGINT):CAST(i*16+16 AS BIGINT)], ' ')
               AS seg
           FROM w, UNNEST(range(CAST(greatest(ceil(len(ws) / 16.0), 1)
             AS BIGINT))) AS t(i)),
         scored AS (SELECT doc_id,
             len(list_filter(string_split(seg, ' '),
               x -> x IN ('the', 'a'))) AS s_en,
             len(list_filter(string_split(seg, ' '),
               x -> x IN ('la', 'el'))) AS s_es,
             len(list_filter(string_split(seg, ' '),
               x -> x IN ('der', 'die'))) AS s_de
           FROM segs),
         pred AS (SELECT doc_id,
             CASE WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es THEN 'de'
                  WHEN s_en > 0 AND s_en >= s_es THEN 'en'
                  WHEN s_es > 0 THEN 'es'
                  ELSE 'und' END AS seg_lang
           FROM scored),
         cnt AS (SELECT doc_id, seg_lang, count(*) AS n
                 FROM pred GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_segments,
                   count(DISTINCT CASE WHEN seg_lang <> 'und'
                         THEN seg_lang END) AS n_langs
                 FROM cnt GROUP BY 1),
         m AS (SELECT doc_id, seg_lang AS majority_lang,
                 CAST(n AS BIGINT) AS n_majority FROM cnt
               QUALIFY row_number() OVER (PARTITION BY doc_id
                 ORDER BY n DESC, seg_lang) = 1)
         SELECT agg.doc_id, n_segments, majority_lang, n_majority,
           (n_langs > 1) AS is_mixed
         FROM agg JOIN m USING (doc_id)"""),

    // per-source discriminative terms (c-TF-IDF shape): top-5 terms by
    // tf_source * n_sources / source_df, exact-rational score
    QueryDef("source_topterms", (s, dir) =>
      Text.sourceTopTerms(Tables.documents(s, dir), topK = 5),
      // same tf / source-df aggregation and exact-rational score
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
                    FROM documents),
         tf AS (SELECT source, w, count(*) AS tf FROM t GROUP BY 1, 2),
         sdf AS (SELECT w, count(*) AS source_df FROM tf GROUP BY 1),
         ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents)
         SELECT source, w AS term, tf, source_df,
           CAST(tf * n_sources AS DOUBLE) / source_df AS score,
           CAST(row_number() OVER (PARTITION BY source
             ORDER BY CAST(tf * n_sources AS DOUBLE) / source_df DESC, w)
             AS INT) AS rank
         FROM tf JOIN sdf USING (w) CROSS JOIN ns
         QUALIFY rank <= 5"""),

    // BM25 retrieval: the lexical-search baseline over the same
    // inverted-index view (idf rounded 1e-6, fixed-order scoring)
    QueryDef("search_bm25", (s, dir) =>
      Text.searchBm25(Tables.documents(s, dir),
        terms = Seq("batch", "scan", "hash")),
      // same idf rounding, k1/b constants, and fixed-order scoring
      """WITH lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tf AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfs AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         sc AS (SELECT doc_id, dl, tfb, tfs, tfh,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tf JOIN lens USING (doc_id) CROSS JOIN dfs CROSS JOIN st)
         SELECT doc_id, dl, tfb AS tf_batch, tfs AS tf_scan,
           tfh AS tf_hash, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS rank
         FROM sc
         QUALIFY rank <= 20"""),

    // ranked retrieval: top-20 docs for a 3-term query, score =
    // sum tf/df in fixed expression order (engine-portable doubles)
    QueryDef("search_ranked", (s, dir) =>
      Text.searchRanked(Tables.documents(s, dir),
        terms = Seq("batch", "scan", "hash")),
      // same conditional tf columns, broadcast df scalars, and
      // fixed-order score expression
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tf AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_batch,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_scan,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tf_hash
           FROM h GROUP BY 1),
         df AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h)
         SELECT doc_id, tf_batch, tf_scan, tf_hash,
           CAST(tf_batch AS DOUBLE) / dfb + CAST(tf_scan AS DOUBLE) / dfs
             + CAST(tf_hash AS DOUBLE) / dfh AS score,
           CAST(row_number() OVER (ORDER BY
             CAST(tf_batch AS DOUBLE) / dfb + CAST(tf_scan AS DOUBLE) / dfs
               + CAST(tf_hash AS DOUBLE) / dfh DESC, doc_id) AS INT)
             AS rank
         FROM tf CROSS JOIN df
         QUALIFY rank <= 20"""),

    // reciprocal-rank fusion of the tf-idf and BM25 rankers —
    // scaled-integer reciprocals, no doubles in the fused score
    QueryDef("rrf_fusion", (s, dir) =>
      Text.rrfFusion(Tables.documents(s, dir),
        terms = Seq("batch", "scan", "hash")),
      // both rankers' oracle chains verbatim, fused by the same
      // 10^12-scaled integer-division reciprocals (// in DuckDB)
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tfa AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfa AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         ra AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               CAST(tfb AS DOUBLE) / dfb + CAST(tfs AS DOUBLE) / dfs
                 + CAST(tfh AS DOUBLE) / dfh DESC, doc_id) AS INT)
               AS rank_tfidf
           FROM tfa CROSS JOIN dfa
           QUALIFY rank_tfidf <= 20),
         lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         sc AS (SELECT doc_id,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tfa JOIN lens USING (doc_id) CROSS JOIN dfa CROSS JOIN st),
         rb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rank_bm25
           FROM sc
           QUALIFY rank_bm25 <= 20),
         f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
             coalesce(CAST(1000000000000 // (60 + rank_tfidf) AS BIGINT),
               0) + coalesce(CAST(1000000000000 // (60 + rank_bm25)
               AS BIGINT), 0) AS rrf_score,
             coalesce(rank_tfidf, 0) AS rank_tfidf,
             coalesce(rank_bm25, 0) AS rank_bm25
           FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
         SELECT doc_id, rank_tfidf, rank_bm25, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
             AS INT) AS rank_fused
         FROM f
         QUALIFY rank_fused <= 20"""),

    // Kendall's tau between the two rankers' top-20 lists — the
    // agreement check ahead of fusion; exact pair counts, one division
    QueryDef("kendall_tau", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = Seq("batch", "scan", "hash")
      graft.ops.Eval.kendallTau(
        Text.searchRanked(docs, terms)
          .select(col("doc_id").as("id"), col("rank")),
        Text.searchBm25(docs, terms)
          .select(col("doc_id").as("id"), col("rank")))
    },
      // the two ranking chains + exact pair counts over the common set
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tfa AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfa AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         ra AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               CAST(tfb AS DOUBLE) / dfb + CAST(tfs AS DOUBLE) / dfs
                 + CAST(tfh AS DOUBLE) / dfh DESC, doc_id) AS INT) AS ra
           FROM tfa CROSS JOIN dfa
           QUALIFY ra <= 20),
         lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         sc AS (SELECT doc_id,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tfa JOIN lens USING (doc_id) CROSS JOIN dfa CROSS JOIN st),
         rb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rb
           FROM sc QUALIFY rb <= 20),
         c AS (SELECT ra.doc_id AS id, ra, rb
               FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM c),
         p AS (SELECT CAST(sum(CASE WHEN (l.ra < r.ra) = (l.rb < r.rb)
                   THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
               CAST(sum(CASE WHEN (l.ra < r.ra) = (l.rb < r.rb)
                   THEN 0 ELSE 1 END) AS BIGINT) AS discordant
             FROM c l JOIN c r ON l.id < r.id)
         SELECT n_common, coalesce(concordant, 0) AS concordant,
           coalesce(discordant, 0) AS discordant,
           CASE WHEN n_common >= 2 THEN
             CAST(concordant - discordant AS DOUBLE)
               / (n_common * (n_common - 1) // 2)
           ELSE 0.0 END AS tau
         FROM p CROSS JOIN n"""),

    // Spearman's rho over the same two top-20 rankings as kendall_tau
    // (dense re-rank within the common subset, then the exact d^2 form)
    QueryDef("spearman_rho", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = Seq("batch", "scan", "hash")
      graft.ops.Eval.spearmanRho(
        Text.searchRanked(docs, terms)
          .select(col("doc_id").as("id"), col("rank")),
        Text.searchBm25(docs, terms)
          .select(col("doc_id").as("id"), col("rank")))
    },
      // kendall_tau's two ranking chains verbatim, then the dense
      // common-subset re-rank and the exact d^2 formula
      """WITH h AS (SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE w IN ('batch', 'scan', 'hash')),
         tfa AS (SELECT doc_id,
             CAST(sum(CASE WHEN w = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfb,
             CAST(sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfs,
             CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
               AS tfh
           FROM h GROUP BY 1),
         dfa AS (SELECT
             count(DISTINCT CASE WHEN w = 'batch' THEN doc_id END) AS dfb,
             count(DISTINCT CASE WHEN w = 'scan' THEN doc_id END) AS dfs,
             count(DISTINCT CASE WHEN w = 'hash' THEN doc_id END) AS dfh
           FROM h),
         ra AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               CAST(tfb AS DOUBLE) / dfb + CAST(tfs AS DOUBLE) / dfs
                 + CAST(tfh AS DOUBLE) / dfh DESC, doc_id) AS INT) AS ra
           FROM tfa CROSS JOIN dfa
           QUALIFY ra <= 20),
         lens AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
         st AS (SELECT count(*) AS n_docs,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
         sc AS (SELECT doc_id,
             round(ln((n_docs - dfb + 0.5) / (dfb + 0.5) + 1.0), 6)
               * (CAST(tfb AS DOUBLE) * 2.2)
               / (CAST(tfb AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfs + 0.5) / (dfs + 0.5) + 1.0), 6)
               * (CAST(tfs AS DOUBLE) * 2.2)
               / (CAST(tfs AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + round(ln((n_docs - dfh + 0.5) / (dfh + 0.5) + 1.0), 6)
               * (CAST(tfh AS DOUBLE) * 2.2)
               / (CAST(tfh AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               AS score
           FROM tfa JOIN lens USING (doc_id) CROSS JOIN dfa CROSS JOIN st),
         rb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rb
           FROM sc QUALIFY rb <= 20),
         c AS (SELECT ra.doc_id AS id, ra, rb
               FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
         rr AS (SELECT
               CAST(row_number() OVER (ORDER BY ra, id) AS BIGINT) AS pa,
               CAST(row_number() OVER (ORDER BY rb, id) AS BIGINT) AS pb
             FROM c)
         SELECT CAST(count(*) AS BIGINT) AS n_common,
           CAST(coalesce(sum((pa - pb) * (pa - pb)), 0) AS BIGINT)
             AS sum_d2,
           CASE WHEN count(*) >= 2 THEN
             1.0 - (6.0 * CAST(sum((pa - pb) * (pa - pb)) AS DOUBLE))
               / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE)
           ELSE 0.0 END AS rho
         FROM rr"""),

    // BPE trainer's first merge iteration: corpus-wide within-word
    // character-pair counts, top-50 (count desc, pair asc)
    QueryDef("bpe_pairs", (s, dir) =>
      Text.bpePairs(Tables.documents(s, dir), topN = 50),
      // same within-word bigram expansion and (count desc, pair asc) rank
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents),
         p AS (SELECT unnest(list_transform(range(1, length(w)),
                 i -> substr(w, CAST(i AS INT), 2))) AS pair
               FROM w WHERE length(w) >= 2),
         c AS (SELECT pair, count(*) AS n FROM p GROUP BY 1)
         SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank
         FROM c
         QUALIFY row_number() OVER (ORDER BY n DESC, pair) <= 50"""),

    // corpus bigram LM: top-20 bigrams with P(w2|w1)
    QueryDef("bigram_lm", (s, dir) =>
      Text.bigramLm(Tables.documents(s, dir), topN = 20),
      """WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
         bg AS (SELECT words[g+1] AS w1, words[g+2] AS w2
                FROM w, UNNEST(range(len(words) - 1)) AS t(g)
                WHERE len(words) >= 2),
         pc AS (SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2),
         cc AS (SELECT w1, count(*) AS n_ctx FROM bg GROUP BY 1)
         SELECT pc.w1, pc.w2, pc.n,
           CAST(pc.n AS DOUBLE) / cc.n_ctx AS p_cond
         FROM pc JOIN cc USING (w1)
         ORDER BY pc.n DESC, pc.w1 ASC, pc.w2 ASC LIMIT 20""")
  )
}
