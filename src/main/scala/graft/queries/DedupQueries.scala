package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Fixtures._

/** Exact and near-duplicate detection over documents (MinHash/LSH,
  * SimHash, exact substrings, curation pipelines) and record linkage.
  */
object DedupQueries {

  // ---- queries another query reuses (initialized before defs) -----

  // the SAME curation front door over the events table's JSON props:
  // the reference's flatten path (P1) feeding the LLM path as one
  // code chain. flattenJsonColumn parses/flattens the payload, the
  // flat fields render to a canonical text (every 10th doc spells the
  // marker word in DECOMPOSED form so it hash-merges iff normalize
  // ran), and curationPipeline runs normalize, exact dedup, and the
  // near-dedup verdicts. Near dups arise naturally: events sharing
  // (user, k, type) but differing in value bucket differ in ONE of
  // six shingles (J = 5/7 >= 0.5). The token ORDER is deliberate:
  // the marker sits next to the high-cardinality user token so every
  // shingle's df stays ~corpus/users ~= 64 at every SF (users scale
  // with SF) -- placing it next to the 5-value type token pushed the
  // prefix shingle's df over the derived cap and silently killed the
  // near stage (caught by the positiveAgg degeneracy gate). Buckets
  // ride the repo's portable cents arithmetic (round, BIGINT,
  // truncating div).
  val curationPipelineEvents: QueryDef =
    QueryDef("curation_pipeline_events", (s, dir) =>
      TextDedup.curationPipeline(eventsCurationDocs(rawEventsSlice(s, dir))),
      // the events-payload front door replayed end-to-end: the same JSON
      // flatten (json_extract_string = the k leaf), the same canonical
      // text rendering (decomposed marker on every 10th event, portable
      // cents bucket via round → BIGINT → truncating //), then the
      // identical strip→NFC→collapse→trim normalize, capped near stage,
      // and min-partner canonical rule as curation_pipeline
      """WITH inp AS (SELECT event_id AS doc_id,
               (CASE WHEN event_id % 10 = 0 THEN 'Cafe' || chr(769)
                     ELSE 'Caf' || chr(233) END)
               || ' user ' || coalesce(CAST(user_id AS VARCHAR), 'null')
               || ' k '
               || coalesce(
                    CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                         AS VARCHAR), 'null')
               || ' ' || coalesce(event_type, 'null') || ' b '
               || coalesce(CAST(CAST(round(value * 100) AS BIGINT) // 10000
                                AS VARCHAR), 'null') AS text
             FROM events),
         cap AS (SELECT least(greatest(CAST(ceil(0.02 * count(*)) AS BIGINT),
                   100), 1024) AS c FROM inp),
         n AS (SELECT doc_id,
                 trim(regexp_replace(nfc_normalize(
                   regexp_replace(text,
                     '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g')),
                   '[ \t\n\r\f]+', ' ', 'g')) AS text
               FROM inp),
         e AS (SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY sha256(text)) AS exact_canon
               FROM n),
         s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM e
               WHERE doc_id = exact_canon),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(ws[g+1:g+3], ' ') AS shingle
                FROM s, UNNEST(range(len(ws) - 2)) AS t(g)
                WHERE len(ws) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         df AS (SELECT shingle FROM sh GROUP BY shingle
                HAVING count(*) <= (SELECT c FROM cap)),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   JOIN df ON a.shingle = df.shingle
                   GROUP BY 1, 2),
         nd AS (SELECT db AS doc_id, min(da) AS near_canon
                FROM pairs JOIN sz x ON da = x.doc_id
                           JOIN sz y ON db = y.doc_id
                WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
                GROUP BY 1)
         SELECT e.doc_id,
           CASE WHEN e.doc_id <> e.exact_canon THEN 'exact_dup'
                WHEN nd.near_canon IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status,
           CASE WHEN e.doc_id <> e.exact_canon THEN e.exact_canon
                WHEN nd.near_canon IS NOT NULL THEN nd.near_canon
                ELSE e.doc_id END AS canonical_id
         FROM e LEFT JOIN nd USING (doc_id)""")

  val defs: Seq[QueryDef] = Seq(
    // Fellegi-Sunter agreement-pattern table over blocked customer-name
    // candidates: exact clamped-ppm m/u estimates, long-fraction odds,
    // integer link rule. Blocking = last-3 ∪ digits-3-6 windows:
    // deletion pos <= len-3 keeps the suffix, pos >= 16 keeps the
    // front-anchored digit window — together every deletion position
    // is covered, and both block families are BOUNDED (15 resp. 1000
    // ids per block -> candidate volume LINEAR in corpus size, never
    // the first-digits quadratic blowup); nationkey is the
    // discriminative attribute (m ~ 1, u ~ 1/25)
    QueryDef("fellegi_sunter", (s, dir) =>
      Linkage.fellegiSunter(Tables.customer(s, dir),
        id = col("c_custkey"), name = col("c_name"),
        attr = col("c_nationkey"),
        blkA = substring(_, -3, 3), blkB = substring(_, 12, 4)),
      // the same clamped-ppm estimation and long-fraction pattern odds;
      // entity_resolution's dirty-name formula and blocking verbatim
      """WITH dirty AS (SELECT c_custkey AS rec_id, c_name AS true_name,
               substr(c_name, 1,
                 CAST(c_custkey % (length(c_name) - 1) AS INT)) ||
               substr(c_name,
                 CAST(c_custkey % (length(c_name) - 1) + 2 AS INT))
                 AS dirty_name,
               c_nationkey AS rec_attr
             FROM customer),
         catalog AS (SELECT c_name AS canon_name,
               arg_min(c_nationkey, c_custkey) AS canon_attr
             FROM customer GROUP BY 1),
         cand0 AS (
           SELECT DISTINCT rec_id, dirty_name, true_name, rec_attr,
             canon_name, canon_attr
           FROM (
             SELECT rec_id, dirty_name, true_name, rec_attr,
               canon_name, canon_attr
             FROM dirty JOIN catalog
               ON substr(dirty_name, -3, 3) = substr(canon_name, -3, 3)
             UNION ALL
             SELECT rec_id, dirty_name, true_name, rec_attr,
               canon_name, canon_attr
             FROM dirty JOIN catalog
               ON substr(dirty_name, 12, 4) = substr(canon_name, 12, 4))),
         cand AS (SELECT
             CASE WHEN substr(dirty_name, -3, 3) = substr(canon_name, -3, 3)
               THEN 1 ELSE 0 END AS g_a,
             CASE WHEN substr(dirty_name, 12, 4) = substr(canon_name, 12, 4)
               THEN 1 ELSE 0 END AS g_b,
             CASE WHEN rec_attr = canon_attr THEN 1 ELSE 0 END AS g_attr,
             CASE WHEN true_name = canon_name THEN 1 ELSE 0 END AS is_match
           FROM cand0),
         est AS (SELECT
             greatest(1, least(999999, CAST(sum(g_a * is_match) AS BIGINT)
               * 1000000 // greatest(CAST(sum(is_match) AS BIGINT), 1))) AS m1,
             greatest(1, least(999999, CAST(sum(g_b * is_match) AS BIGINT)
               * 1000000 // greatest(CAST(sum(is_match) AS BIGINT), 1))) AS m2,
             greatest(1, least(999999, CAST(sum(g_attr * is_match) AS BIGINT)
               * 1000000 // greatest(CAST(sum(is_match) AS BIGINT), 1))) AS m3,
             greatest(1, least(999999, CAST(sum(g_a * (1 - is_match)) AS BIGINT)
               * 1000000 // greatest(CAST(sum(1 - is_match) AS BIGINT), 1))) AS u1,
             greatest(1, least(999999, CAST(sum(g_b * (1 - is_match)) AS BIGINT)
               * 1000000 // greatest(CAST(sum(1 - is_match) AS BIGINT), 1))) AS u2,
             greatest(1, least(999999, CAST(sum(g_attr * (1 - is_match)) AS BIGINT)
               * 1000000 // greatest(CAST(sum(1 - is_match) AS BIGINT), 1))) AS u3
           FROM cand),
         pat AS (SELECT g_a, g_b, g_attr,
               CAST(sum(is_match) AS BIGINT) AS n_match,
               CAST(sum(1 - is_match) AS BIGINT) AS n_nonmatch
             FROM cand GROUP BY 1, 2, 3),
         sc AS (SELECT g_a, g_b, g_attr, n_match, n_nonmatch,
               (CASE WHEN g_a = 1 THEN m1 ELSE 1000000 - m1 END) *
               (CASE WHEN g_b = 1 THEN m2 ELSE 1000000 - m2 END) *
               (CASE WHEN g_attr = 1 THEN m3 ELSE 1000000 - m3 END) AS num,
               (CASE WHEN g_a = 1 THEN u1 ELSE 1000000 - u1 END) *
               (CASE WHEN g_b = 1 THEN u2 ELSE 1000000 - u2 END) *
               (CASE WHEN g_attr = 1 THEN u3 ELSE 1000000 - u3 END) AS den
             FROM pat, est)
         SELECT g_a, g_b, g_attr, n_match, n_nonmatch,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS odds,
           num >= den AS is_link
         FROM sc"""),

    // containment near-dup: quote/prefix duplication Jaccard misses
    QueryDef("containment_pairs", (s, dir) =>
      TextDedup.containmentPairs(Tables.documents(s, dir), threshold = 0.8),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                    array_to_string(words[g+1:g+3], ' ') AS shingle
                  FROM w, UNNEST(range(len(words) - 2)) AS t(g)
                  WHERE len(words) >= 3),
           sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / least(za.n, zb.n) AS containment
         FROM i JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / least(za.n, zb.n) >= 0.8"""),

    // dedup-aware curation score: share of shingles first seen in this doc
    QueryDef("ngram_novelty", (s, dir) =>
      TextDedup.ngramNovelty(Tables.documents(s, dir)),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           sh AS (SELECT DISTINCT doc_id,
                    array_to_string(words[g+1:g+3], ' ') AS shingle
                  FROM w, UNNEST(range(len(words) - 2)) AS t(g)
                  WHERE len(words) >= 3),
           fs AS (SELECT shingle, min(doc_id) AS fs FROM sh GROUP BY 1)
         SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN fs = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN fs = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS novelty
         FROM sh JOIN fs USING (shingle) GROUP BY doc_id"""),

    // corpus-level cross-feed contamination: source-pair shingle Jaccard
    QueryDef("source_overlap", (s, dir) =>
      TextDedup.sourceOverlap(Tables.documents(s, dir)),
      """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
           sh AS (SELECT DISTINCT source,
                    array_to_string(words[g+1:g+3], ' ') AS shingle
                  FROM w, UNNEST(range(len(words) - 2)) AS t(g)
                  WHERE len(words) >= 3),
           sz AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
           i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
                 GROUP BY 1, 2)
         SELECT src_a, src_b, inter,
           CAST(inter AS DOUBLE) / (za.n + zb.n - inter) AS jaccard
         FROM i JOIN sz za ON za.source = src_a JOIN sz zb ON zb.source = src_b"""),

    // union-mergeable per-source MinHash sketches: pairwise Jaccard
    // estimate next to exact posting-list truth
    QueryDef("source_minhash_sim", (s, dir) =>
      TextDedup.sourceMinhashSim(Tables.documents(s, dir)),
      // same portable shingle hash + seed-42 family as literals
      // (TextDedup.sourceMinhashSimOracleSql)
      TextDedup.sourceMinhashSimOracleSql()),

    // E4: exact content-hash dedup; input doubled to simulate re-ingest
    QueryDef("dedup_content_hash", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextDedup.contentHashDedup(
        d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000)))
    },
      """WITH inp AS (SELECT doc_id, text FROM documents
                      UNION ALL SELECT doc_id + 10000, text FROM documents)
         SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id,
                count(*) AS n_copies
         FROM inp GROUP BY sha256(text)"""),

    // E1: exact shingle-Jaccard near-dup (df-capped candidates + verify)
    QueryDef("near_dedup", (s, dir) =>
      TextDedup.nearDupJaccard(Tables.documents(s, dir)),
      nearDupOracle),

    // E1-complete: AllPairs prefix-filter similarity join — COMPLETE
    // candidate generation (no df cap, no banding): under the
    // df-ascending prefix lemma NO true pair >= 3/5 can be missed,
    // the guarantee the LSH/df-cap paths trade for speed
    QueryDef("allpairs_jaccard", (s, dir) =>
      TextDedup.allPairsJaccard(Tables.documents(s, dir)),
      // the oracle IS the uncapped brute force — completeness of the
      // prefix-filter candidates is checked pair-for-pair at t = 3/5
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
                FROM w, UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
         SELECT a AS doc_a, b AS doc_b,
                CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         FROM pairs JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6"""),

    // E1: MinHash+LSH candidates + exact verify (the sub-quadratic path);
    // oracle = ground-truth pairs, i.e. asserts perfect recall on testdata
    QueryDef("minhash_lsh", (s, dir) =>
      TextDedup.minhashLshPairs(Tables.documents(s, dir)),
      // LSH must achieve perfect recall on the injected >=0.9-Jaccard dups:
      // same ground-truth oracle as near_dedup.
      nearDupOracle),

    // E1: near-dup clusters — pairs → connected components → canonical
    // doc per cluster (the actual dedup decision)
    QueryDef("dedup_clusters", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.dedupClusters(d, TextDedup.nearDupJaccard(d))
    },
      // connected components of the ground-truth pair graph via a
      // recursive transitive closure; cluster id = component min doc_id
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl"""),

    // E1: the applied dedup decision — only canonical docs survive
    QueryDef("dedup_canonical", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.dedupClusters(d, TextDedup.nearDupJaccard(d))
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("cluster_size"))
    },
      // survivors of the cluster decision: doc is its own cluster minimum
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id),
         sized AS (SELECT doc_id, cluster_id,
                     count(*) OVER (PARTITION BY cluster_id) AS cluster_size
                   FROM lbl)
         SELECT doc_id, cluster_size FROM sized WHERE doc_id = cluster_id"""),

    // E1-scale: same clusters via ALTERNATING LARGE/SMALL-STAR
    // contraction (diameter-independent O(log n) rounds vs label
    // propagation's O(diameter)) — the published scale path for
    // duplicate-chain graphs; identical oracle as dedup_clusters
    // because the fixed point is the same min-per-component labeling
    QueryDef("cc_star", (s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = TextDedup.nearDupJaccard(d)
      val labels = Graph.connectedComponentsStar(s,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .withColumnRenamed("node", "doc_id")
      val all = d.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
      all.withColumn("cluster_size", count(lit(1)).over(w))
    },
      // star-contraction components reach the SAME fixed point as label
      // propagation (min id per component) — identical oracle
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM lbl"""),

    // E1: SimHash fingerprints (bit-vote fold mirrored in the oracle)
    QueryDef("simhash", (s, dir) =>
      TextDedup.simHash(Tables.documents(s, dir)),
      // same per-word polynomial hash + ±1 bit votes as TextDedup.simHash —
      // pure integer folding, so the fingerprints match bit-for-bit
      """WITH h AS (
           SELECT doc_id,
             list_transform(string_split(text, ' '), w ->
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (a, x) -> (a * 1000003 + x) % 2038074743)) AS hs
           FROM documents)
         SELECT doc_id,
           CAST(list_sum(list_transform(range(32), b ->
             CASE WHEN list_sum(list_transform(hs, v ->
                    CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
         FROM h"""),

    // E1: Hamming-near SimHash pairs via pigeonhole banding (guaranteed
    // recall for hamming < bands — deterministic, unlike MinHash LSH)
    QueryDef("simhash_pairs", (s, dir) =>
      TextDedup.simHashPairs(Tables.documents(s, dir)),
      // brute-force Hamming pairs over the same fingerprints — the banded
      // Spark path must find every one (pigeonhole guarantee)
      """WITH h AS (
           SELECT doc_id,
             list_transform(string_split(text, ' '), w ->
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (a, x) -> (a * 1000003 + x) % 2038074743)) AS hs
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(32), b ->
               CASE WHEN list_sum(list_transform(hs, v ->
                      CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
           FROM h)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),

    // E1: char n-gram Jaccard near-dup (tokenizer-free shingle domain)
    QueryDef("near_dedup_chars", (s, dir) =>
      TextDedup.nearDupJaccardChars(Tables.documents(s, dir)),
      // uncapped all-pairs char-5-gram Jaccard ground truth
      """WITH sh AS (SELECT DISTINCT doc_id, substr(text, g+1, 5) AS shingle
                     FROM documents, UNNEST(range(length(text) - 4)) AS t(g)
                     WHERE length(text) >= 5),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
         SELECT a AS doc_a, b AS doc_b,
                CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         FROM pairs JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5"""),

    // E3+: dominant-shingle repetition ratio (boilerplate/spam signal)
    QueryDef("repetition_score", (s, dir) =>
      TextDedup.repetitionScore(Tables.documents(s, dir)),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         occ AS (SELECT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
                 FROM w, UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
         f AS (SELECT doc_id, shingle, count(*) AS freq FROM occ GROUP BY 1, 2)
         SELECT doc_id, max(freq) AS top_freq,
           CAST(sum(freq) AS BIGINT) AS n_shingles,
           CAST(max(freq) AS DOUBLE) / CAST(sum(freq) AS BIGINT) AS rep_ratio
         FROM f GROUP BY doc_id"""),

    // E1+: benchmark decontamination — flag docs overlapping the
    // benchmark set's shingles (docs 0-4 act as the benchmark)
    QueryDef("decontaminate", (s, dir) =>
      TextDedup.decontaminate(Tables.documents(s, dir), col("doc_id") < 5),
      """WITH sh AS (SELECT DISTINCT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
                     FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w,
                     UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
         probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5),
         ov AS (SELECT doc_id, count(*) AS overlap FROM sh JOIN probe USING (shingle)
                WHERE doc_id >= 5 GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
                coalesce(ov.overlap, 0) >= 5 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
         LEFT JOIN ov ON d.doc_id = ov.doc_id"""),

    // ingest-tick dedup: new batch (doc_id >= 400) anti-joined against
    // the corpus hash set (doc_id < 400), keep-first within the batch
    QueryDef("dedup_incremental", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.incrementalDedup(
        corpus = d.filter(col("doc_id") < 400),
        batch = d.filter(col("doc_id") >= 400))
    },
      """WITH seen AS (SELECT DISTINCT sha256(text) AS content_hash
                       FROM documents WHERE doc_id < 400)
         SELECT min(doc_id) AS doc_id, sha256(text) AS content_hash
         FROM documents d
         WHERE doc_id >= 400
           AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.content_hash = sha256(d.text))
         GROUP BY sha256(text)"""),

    // ingest-tick NEAR-dedup: batch docs near-duplicating the existing
    // corpus via cross-side LSH buckets (batch x corpus, never corpus^2)
    QueryDef("near_dedup_incremental", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.nearDupIncremental(
        corpus = d.filter(col("doc_id") % 10 =!= 0),
        batch = d.filter(col("doc_id") % 10 === 0))
    },
      // exact batch x corpus shingle-Jaccard ground truth — asserting the
      // incremental LSH tick's recall AND precision on the cross pairs
      crossSideNearDupOracle),

    // eval-integrity audit: near-dup pairs straddling train/val/test
    QueryDef("split_leak_pairs", (s, dir) =>
      TextDedup.splitLeakPairs(Tables.documents(s, dir)),
      // near-dup ground truth + the same portable-hash split arithmetic;
      // only cross-split pairs survive
      s"""SELECT doc_a, doc_b,
           CASE WHEN pa < 80 THEN 'train' WHEN pa < 90 THEN 'val'
                ELSE 'test' END AS split_a,
           CASE WHEN pb < 80 THEN 'train' WHEN pb < 90 THEN 'val'
                ELSE 'test' END AS split_b,
           jaccard
         FROM (SELECT doc_a, doc_b, jaccard,
                 ((doc_a * 1000003) % 1000000007) % 100 AS pa,
                 ((doc_b * 1000003) % 1000000007) % 100 AS pb
               FROM ($nearDupOracle))
         WHERE (CASE WHEN pa < 80 THEN 'train' WHEN pa < 90 THEN 'val'
                     ELSE 'test' END) <>
               (CASE WHEN pb < 80 THEN 'train' WHEN pb < 90 THEN 'val'
                     ELSE 'test' END)"""),

    // the fix for split leaks: splits assigned per near-dup CLUSTER
    QueryDef("split_by_cluster", (s, dir) => {
      val d = Tables.documents(s, dir)
      TextDedup.splitByCluster(d, TextDedup.nearDupJaccard(d))
    },
      // connected components + portable-hash split of the CANONICAL id
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT doc_id, cluster_id,
           CASE WHEN pc < 80 THEN 'train' WHEN pc < 90 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, cluster_id,
                 ((cluster_id * 1000003) % 1000000007) % 100 AS pc
               FROM lbl)"""),

    // corpus-wide exact paragraph dedup (keep-first) + doc reassembly
    QueryDef("paragraph_dedup", (s, dir) =>
      TextDedup.paragraphDedup(Tables.documents(s, dir)),
      // same first-occurrence rule (min (doc_id, pos) per distinct
      // paragraph) and the same in-order reassembly
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         n AS (SELECT doc_id, words,
                 greatest(CAST(ceil(len(words) / 16.0) AS BIGINT), 1) AS nc FROM w),
         p AS (SELECT doc_id, CAST(i AS INT) AS pos,
                 array_to_string(words[i*16+1 : i*16+16], ' ') AS para
               FROM n, UNNEST(range(nc)) AS t(i)),
         k AS (SELECT * FROM p
               QUALIFY row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1),
         r AS (SELECT doc_id, count(*) AS n_kept,
                 string_agg(para, ' ' ORDER BY pos) AS text_dedup
               FROM k GROUP BY doc_id)
         SELECT n.doc_id, n.nc AS n_chunks,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.text_dedup, '') AS text_dedup
         FROM n LEFT JOIN r USING (doc_id)"""),

    // content-defined chunking dedup: rolling-hash cut points (w=3,
    // m=8) resynchronize after insertions — shift-robust chunk dedup
    QueryDef("cdc_chunk_dedup", (s, dir) =>
      TextDedup.cdcChunkDedup(Tables.documents(s, dir)),
      // same stride-1 window expansion and first-occurrence rule
      // same wordHash + polyFold window rule, conditional end-bound
      // append (Spark's array_distinct preserves order; DuckDB's may not)
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         c AS (SELECT doc_id, ws,
               list_filter(range(3, len(ws) + 1), i ->
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(ws[i-2:i],
                       x -> CAST(ascii(x) AS BIGINT) * 31 + len(x))),
                   (a, x) -> (a * 1000003 + x) % 1000000007) % 8 = 0)
                 AS cuts
             FROM w),
         b AS (SELECT doc_id, ws,
               CASE WHEN len(cuts) > 0 AND cuts[len(cuts)] = len(ws)
                    THEN list_concat([CAST(0 AS BIGINT)], cuts)
                    ELSE list_concat(
                      list_concat([CAST(0 AS BIGINT)], cuts),
                      [CAST(len(ws) AS BIGINT)]) END AS bounds
             FROM c),
         ch AS (SELECT doc_id, t.j AS pos,
               array_to_string(ws[bounds[j+1]+1 : bounds[j+2]], ' ')
                 AS chunk
             FROM b, UNNEST(range(len(bounds) - 1)) AS t(j)),
         f AS (SELECT doc_id,
               CASE WHEN row_number() OVER (PARTITION BY chunk
                      ORDER BY doc_id, pos) > 1 THEN 1 ELSE 0 END AS dup
             FROM ch),
         r AS (SELECT doc_id, count(*) AS nc,
               CAST(sum(dup) AS BIGINT) AS nd FROM f GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(nc, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_chunks,
           CASE WHEN nc IS NULL THEN 0.0
                ELSE CAST(nd AS DOUBLE) / nc END AS dup_ratio
         FROM documents d LEFT JOIN r USING (doc_id)"""),

    // the corpus-release governance row: sizes, dup pairs, clusters,
    // token budget before/after the canonical cut
    QueryDef("curation_report", (s, dir) =>
      TextDedup.curationReport(Tables.documents(s, dir)),
      // the same composed stages: sha256 groups, the exact near-dup pair
      // set, recursive-CTE components, canonical-doc token sum
      s"""WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ($nearDupOracle)),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(src, dst) AS (
           SELECT src, dst FROM e
           UNION
           SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         lbl AS (SELECT d.doc_id,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
                 FROM documents d LEFT JOIN reach r ON d.doc_id = r.src
                 GROUP BY d.doc_id)
         SELECT
           (SELECT count(*) FROM documents) AS n_docs,
           CAST((SELECT sum(len(string_split(text, ' ')))
                 FROM documents) AS BIGINT) AS tokens_total,
           (SELECT count(DISTINCT sha256(text)) FROM documents)
             AS n_exact_unique,
           (SELECT count(*) FROM p) AS n_near_pairs,
           (SELECT count(DISTINCT cluster_id) FROM lbl) AS n_clusters,
           CAST((SELECT sum(len(string_split(text, ' ')))
                 FROM documents JOIN lbl USING (doc_id)
                 WHERE doc_id = cluster_id) AS BIGINT) AS tokens_retained"""),

    // stride-1 duplicated-span metric (ExactSubstr proper): share of
    // each doc's 8-word windows first seen elsewhere
    QueryDef("exactsubstr_report", (s, dir) =>
      TextDedup.exactSubstrReport(Tables.documents(s, dir)),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, t.g AS pos,
                 array_to_string(ws[g+1:g+8], ' ') AS gram
               FROM w, UNNEST(range(len(ws) - 7)) AS t(g)
               WHERE len(ws) >= 8),
         f AS (SELECT doc_id,
                 CASE WHEN row_number() OVER (PARTITION BY gram
                        ORDER BY doc_id, pos) > 1 THEN 1 ELSE 0 END AS dup
               FROM g),
         r AS (SELECT doc_id, count(*) AS nw,
                 CAST(sum(dup) AS BIGINT) AS nd FROM f GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(nw, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_windows,
           CASE WHEN nw IS NULL THEN 0.0
                ELSE CAST(nd AS DOUBLE) / nw END AS dup_ratio
         FROM documents d LEFT JOIN r USING (doc_id)"""),

    // ExactSubstr APPLY (Lee et al. 2022): remove every token inside a
    // ≥8-token span duplicated at ANY offset, first occurrence wins —
    // the arbitrary-alignment span surgery paragraph_dedup's fixed grid
    // cannot do (spec proves the off-by-3-words contrast)
    QueryDef("exactsubstr_dedup", (s, dir) =>
      TextDedup.exactSubstrDedup(Tables.documents(s, dir)),
      // same stride-1 window relation, first-occurrence rank, and
      // covered-token rebuild (token j removed iff ∃ flagged start s,
      // s ≤ j < s+8)
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, t.g AS pos,
                 array_to_string(ws[g+1:g+8], ' ') AS gram
               FROM w, UNNEST(range(len(ws) - 7)) AS t(g)
               WHERE len(ws) >= 8),
         r AS (SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram
                   ORDER BY doc_id, pos) AS rn
               FROM g),
         f AS (SELECT doc_id, list_sort(list(pos)) AS starts
               FROM r WHERE rn > 1 GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           CASE WHEN starts IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(len(list_filter(range(len(ws)),
                  j -> len(list_filter(starts,
                    s -> s <= j AND j < s + 8)) > 0)) AS BIGINT)
           END AS n_removed,
           CASE WHEN starts IS NULL THEN text
                -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
                -- array_join of an empty array is '' (fully-removed docs)
                ELSE coalesce(array_to_string(list_transform(
                  list_filter(range(len(ws)),
                    j -> len(list_filter(starts,
                      s -> s <= j AND j < s + 8)) = 0),
                  j -> ws[j + 1]), ' '), '')
           END AS text_dedup
         FROM w LEFT JOIN f USING (doc_id)"""),

    // the curation front-door as ONE fused plan: NFC canonicalize →
    // content-hash dedup → near-dedup verdicts. Every 10th doc gets a
    // DECOMPOSED-form twin of its composed-prefix original — the twins
    // hash-merge in the exact stage IFF the normalize stage ran (stage
    // coupling the oracle replays end-to-end)
    QueryDef("curation_pipeline", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // twin ids live at +20000; a corpus whose real doc_ids reach the
      // offset would silently duplicate keys through the verdict join
      // (mirrored in the oracle, so the gate could not see it) \u2014 assert.
      // coalesce: max() is NULL on an empty table — the guard must say
      // so, not NPE (advice round 10)
      val maxDocId =
        d.agg(coalesce(max(col("doc_id")), lit(-1L))).head.getLong(0)
      require(maxDocId < 20000L,
        s"planted doc_id offset 20000 would alias real ids (max=$maxDocId)")
      val base = d.select(col("doc_id"),
        concat(lit("Caf\u00e9 "), col("text")).as("text"))
      val twins = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(lit("Cafe\u0301 "), col("text")).as("text"))
      TextDedup.curationPipeline(base.unionByName(twins))
    },
      // the full chain replayed: same twin plant (chr codes restate the
      // Scala \u escapes), same strip→NFC→collapse→trim normalize (the
      // idempotence-mandated order: strip control chars BEFORE NFC), exact
      // stage as a min-over-hash-partition, near stage as the shingle
      // Jaccard under the SAME derived df cap the plan applies —
      // clamp(ceil(0.02*n), 100, 1024) of the input count, TextDedup
      // .dfCapFor — so capped semantics (inter is a lower bound once a
      // shingle's survivor-df exceeds the cap) are replayed, not just
      // coincidentally untripped at the gate corpus; same min-partner
      // canonical rule
      """WITH inp AS (SELECT doc_id,
               'Caf' || chr(233) || ' ' || text AS text FROM documents
             UNION ALL
             SELECT doc_id + 20000, 'Cafe' || chr(769) || ' ' || text
             FROM documents WHERE doc_id % 10 = 0),
         cap AS (SELECT least(greatest(CAST(ceil(0.02 * count(*)) AS BIGINT),
                   100), 1024) AS c FROM inp),
         n AS (SELECT doc_id,
                 trim(regexp_replace(nfc_normalize(
                   regexp_replace(text,
                     '[\x00-\x08\x0B\x0E-\x1F\x7F]', '', 'g')),
                   '[ \t\n\r\f]+', ' ', 'g')) AS text
               FROM inp),
         e AS (SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY sha256(text)) AS exact_canon
               FROM n),
         s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM e
               WHERE doc_id = exact_canon),
         sh AS (SELECT DISTINCT doc_id,
                  array_to_string(ws[g+1:g+3], ' ') AS shingle
                FROM s, UNNEST(range(len(ws) - 2)) AS t(g)
                WHERE len(ws) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         df AS (SELECT shingle FROM sh GROUP BY shingle
                HAVING count(*) <= (SELECT c FROM cap)),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   JOIN df ON a.shingle = df.shingle
                   GROUP BY 1, 2),
         nd AS (SELECT db AS doc_id, min(da) AS near_canon
                FROM pairs JOIN sz x ON da = x.doc_id
                           JOIN sz y ON db = y.doc_id
                WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
                GROUP BY 1)
         SELECT e.doc_id,
           CASE WHEN e.doc_id <> e.exact_canon THEN 'exact_dup'
                WHEN nd.near_canon IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status,
           CASE WHEN e.doc_id <> e.exact_canon THEN e.exact_canon
                WHEN nd.near_canon IS NOT NULL THEN nd.near_canon
                ELSE e.doc_id END AS canonical_id
         FROM e LEFT JOIN nd USING (doc_id)"""),

    curationPipelineEvents,

    // edit-distance-1 similarity join via deletion-neighborhood
    // blocking (FastSS) — precision/recall 1.0 by construction, no
    // all-pairs scan; domain = customer names ∪ deterministic
    // single-deletion variants so both the substitution and the
    // insertion/deletion match paths fire
    QueryDef("typo_pairs", (s, dir) => {
      val c = Tables.customer(s, dir)
      val names = c.select(col("c_name").as("w"))
        .unionByName(c.filter(col("c_custkey") % 7 === 0)
          .select(Linkage.dirtyName(col("c_custkey"), col("c_name")).as("w")))
      Linkage.typoPairs(names, col("w"))
    },
      // the exact semantic of deletion-neighborhood blocking: all-pairs
      // levenshtein = 1 over the same name domain (dirty-variant SQL is
      // the entity_resolution convention)
      """WITH names AS (
           SELECT c_name AS w FROM customer
           UNION
           SELECT substr(c_name, 1,
                    CAST(c_custkey % (length(c_name) - 1) AS INT)) ||
                  substr(c_name,
                    CAST(c_custkey % (length(c_name) - 1) + 2 AS INT)) AS w
           FROM customer WHERE c_custkey % 7 = 0),
         t AS (SELECT DISTINCT w FROM names)
         SELECT a.w AS name_a, b.w AS name_b, 1 AS lev
         FROM t a JOIN t b ON a.w < b.w AND levenshtein(a.w, b.w) = 1"""),

    // record linkage: deterministic one-char-deletion typos resolved
    // back to the canonical part catalog via prefix ∪ suffix blocking
    // + Levenshtein verify (recall guarantee spec-asserted)
    QueryDef("entity_resolution", (s, dir) =>
      Linkage.resolveEntities(Tables.part(s, dir),
        id = col("p_partkey"), name = col("p_name")),
      // same deterministic one-char deletion, prefix ∪ suffix blocking,
      // and (lev, name, key) argmin; the window aggregates replay the
      // Spark-side n_candidates/n_within audit
      """WITH dirty AS (SELECT p_partkey AS rec_id,
               substr(p_name, 1,
                 CAST(p_partkey % (length(p_name) - 1) AS INT)) ||
               substr(p_name,
                 CAST(p_partkey % (length(p_name) - 1) + 2 AS INT))
                 AS dirty_name
             FROM part),
         catalog AS (SELECT p_name AS canon_name, min(p_partkey) AS canon_key
                     FROM part GROUP BY 1),
         cand AS (
           SELECT DISTINCT rec_id, dirty_name, canon_name, canon_key
           FROM (
             SELECT rec_id, dirty_name, canon_name, canon_key
             FROM dirty JOIN catalog
               ON substr(dirty_name, 1, 3) = substr(canon_name, 1, 3)
             UNION ALL
             SELECT rec_id, dirty_name, canon_name, canon_key
             FROM dirty JOIN catalog
               ON substr(dirty_name, -3, 3) = substr(canon_name, -3, 3))),
         v AS (SELECT rec_id, dirty_name, canon_name, canon_key,
                 levenshtein(dirty_name, canon_name) AS lev FROM cand)
         SELECT rec_id, dirty_name, canon_name AS match_name,
           canon_key AS match_key, CAST(lev AS INT) AS lev,
           count(*) OVER w AS n_candidates,
           CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) OVER w AS BIGINT)
             AS n_within
         FROM v
         WINDOW w AS (PARTITION BY rec_id)
         QUALIFY row_number() OVER (PARTITION BY rec_id
           ORDER BY lev, canon_name, canon_key) = 1""")
  )

  // ---- oracle SQL (DuckDB) ------------------------------------------

  /** Ground-truth near-dup pairs: uncapped all-pairs exact shingle
    * Jaccard >= 0.5 (3-word shingles).
    */
  private val nearDupOracle =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(words[g+1:g+3], ' ') AS shingle
              FROM w, UNNEST(range(len(words) - 2)) AS t(g) WHERE len(words) >= 3),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
                 FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
       SELECT a AS doc_a, b AS doc_b,
              CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       FROM pairs JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
       WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5"""
}
