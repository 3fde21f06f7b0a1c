package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._

/** Vector similarity over embeddings: kNN, ANN, calibration,
  * quantization and semantic dedup.
  */
object SimilarityQueries {

  val defs: Seq[QueryDef] = Seq(
    // kNN label vote over exact cosine neighbors of the %25 probe slice
    QueryDef("knn_classify", (s, dir) =>
      Similarity.knnClassify(Tables.embeddings(s, dir)),
      // exact-cosine kNN vote: rank ties on neighbor id, vote ties on the
      // smaller label — every step total-ordered
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           topk AS (
             SELECT q.vec_id AS q_id, q.label AS true_label,
                    c.label AS n_label
             FROM e q JOIN e c ON q.vec_id <> c.vec_id
             WHERE q.vec_id % 25 = 0
             QUALIFY row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) <= 5),
           votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes
                     FROM topk GROUP BY 1, 2, 3)
         SELECT q_id, true_label, n_label AS pred_label, n_votes,
           CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS correct
         FROM votes
         QUALIFY row_number() OVER (PARTITION BY q_id
           ORDER BY n_votes DESC, n_label ASC) = 1"""),

    // reliability diagram + ECE over the kNN vote confidences — every
    // value one division of exact integers (no binning cuts needed);
    // distinct from calibration_bins (Eval): real classifier votes, ECE
    QueryDef("knn_calibration", (s, dir) =>
      Similarity.calibrationBins(
        Similarity.knnClassify(Tables.embeddings(s, dir))),
      // knn_classify's chain verbatim, then the integer-numerator bins:
      // gap = |5c - vn|/(5n), ECE folds the weighted sum before dividing
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           topk AS (
             SELECT q.vec_id AS q_id, q.label AS true_label,
                    c.label AS n_label
             FROM e q JOIN e c ON q.vec_id <> c.vec_id
             WHERE q.vec_id % 25 = 0
             QUALIFY row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) <= 5),
           votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes
                     FROM topk GROUP BY 1, 2, 3),
           p AS (SELECT q_id, n_votes,
               CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS correct
             FROM votes
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY n_votes DESC, n_label ASC) = 1),
           bins AS (SELECT n_votes, count(*) AS n,
               CAST(sum(correct) AS BIGINT) AS n_correct
             FROM p GROUP BY 1),
           t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(abs(5 * n_correct - n_votes * n)) AS BIGINT)
                 AS ece_num
             FROM bins)
         SELECT n_votes, CAST(n_votes AS DOUBLE) / 5 AS confidence,
           CAST(n AS BIGINT) AS n, n_correct,
           CAST(n_correct AS DOUBLE) / n AS accuracy,
           CAST(abs(5 * n_correct - n_votes * n) AS DOUBLE) / (5 * n)
             AS gap,
           CAST(ece_num AS DOUBLE) / (5 * nt) AS ece
         FROM bins CROSS JOIN t"""),

    // isotonic (PAV) fit over the same vote bins via the minimax
    // characterization — monotone calibrated probabilities, exact
    // floor-keyed fraction ordering (no iterative pooling loop)
    QueryDef("isotonic_calibration", (s, dir) =>
      Similarity.isotonicCalibration(
        Similarity.knnClassify(Tables.embeddings(s, dir))),
      // knn chain verbatim, then the interval-lattice minimax: the same
      // floor key (cc*10^14 // nn) and (key, nn, cc) tie order select the
      // same interval row, so the final division is the identical double
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings),
           topk AS (
             SELECT q.vec_id AS q_id, q.label AS true_label,
                    c.label AS n_label
             FROM e q JOIN e c ON q.vec_id <> c.vec_id
             WHERE q.vec_id % 25 = 0
             QUALIFY row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) <= 5),
           votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes
                     FROM topk GROUP BY 1, 2, 3),
           p AS (SELECT q_id, n_votes,
               CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS correct
             FROM votes
             QUALIFY row_number() OVER (PARTITION BY q_id
               ORDER BY n_votes DESC, n_label ASC) = 1),
           bins AS (SELECT n_votes, count(*) AS n,
               CAST(sum(correct) AS BIGINT) AS n_correct
             FROM p GROUP BY 1),
           pre AS (SELECT n_votes, n, n_correct,
               CAST(sum(n) OVER (ORDER BY n_votes
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_n,
               CAST(sum(n_correct) OVER (ORDER BY n_votes
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_c
             FROM bins),
           iv AS (SELECT j.n_votes AS jv, m.n_votes AS mv,
               m.cum_c - (j.cum_c - j.n_correct) AS cc,
               m.cum_n - (j.cum_n - j.n) AS nn
             FROM pre j JOIN pre m ON j.n_votes <= m.n_votes),
           iv2 AS (SELECT jv, mv, cc, nn,
               cc * 100000000000000 // nn AS key FROM iv),
           onb AS (SELECT b.n_votes AS iv_votes, i.jv, i.cc, i.nn, i.key
             FROM bins b JOIN iv2 i
             ON i.jv <= b.n_votes AND b.n_votes <= i.mv),
           mn AS (SELECT iv_votes, jv, cc, nn, key,
               row_number() OVER (PARTITION BY iv_votes, jv
                 ORDER BY key, nn, cc) AS rn
             FROM onb),
           mx AS (SELECT iv_votes, cc, nn,
               row_number() OVER (PARTITION BY iv_votes
                 ORDER BY key DESC, nn, cc) AS rx
             FROM mn WHERE rn = 1)
         SELECT b.n_votes, CAST(b.n_votes AS DOUBLE) / 5 AS confidence,
           CAST(b.n AS BIGINT) AS n, b.n_correct,
           CAST(b.n_correct AS DOUBLE) / b.n AS accuracy,
           CAST(x.cc AS DOUBLE) / CAST(x.nn AS DOUBLE) AS iso_p
         FROM bins b JOIN mx x ON x.iv_votes = b.n_votes AND x.rx = 1"""),

    // per-dim (x - median)/IQR normalization, discrete-rank quartiles
    QueryDef("robust_scale", (s, dir) =>
      Similarity.robustScale(Tables.embeddings(s, dir)),
      // discrete-rank quartiles; the scale step is one sub + one div of
      // bit-identical doubles — no rounding
      """WITH x AS (SELECT vec_id, pos - 1 AS dim, val AS x
               FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
                       generate_subscripts(embedding, 1) AS pos
                     FROM embeddings)),
           r AS (SELECT dim, x,
                   row_number() OVER (PARTITION BY dim ORDER BY x) AS rn,
                   count(*) OVER (PARTITION BY dim) AS n_part FROM x),
           c AS (SELECT dim,
                   max(CASE WHEN rn = (n_part * 25 + 99) // 100 THEN x END)
                     AS q1,
                   max(CASE WHEN rn = (n_part * 50 + 99) // 100 THEN x END)
                     AS med,
                   max(CASE WHEN rn = (n_part * 75 + 99) // 100 THEN x END)
                     AS q3
                 FROM r GROUP BY 1)
         SELECT x.vec_id, x.dim, x.x,
           CASE WHEN q3 = q1 THEN NULL
                ELSE (x.x - med) / (q3 - q1) END AS x_scaled
         FROM x JOIN c ON x.dim = c.dim"""),

    // top principal direction, 6 integer-exact power-iteration steps
    QueryDef("pca_power", (s, dir) =>
      Similarity.pcaPower(Tables.embeddings(s, dir)),
      // unrolled integer power iteration shared with the operator
      Similarity.pcaPowerOracleSql()),

    // int8 scalar quantization of the embedding corpus. The codes array
    // is projected to a comma-joined string: the driver's pandas
    // row-sort can't hash array cells (same convention as array_funcs).
    QueryDef("embedding_quantize", (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), array_join(col("codes"), ",").as("codes")),
      // identical IEEE double expression shape as the Spark projection;
      // min/max are exact float selections, so codes match bit-for-bit
      """WITH idx AS (SELECT UNNEST(range(64)) AS i),
           dim AS (SELECT i, min(embedding[i+1]) AS mn, max(embedding[i+1]) AS mx
                   FROM embeddings, idx GROUP BY i),
           arr AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY i) AS mins,
                          list(CAST(mx AS DOUBLE) ORDER BY i) AS maxs FROM dim)
         SELECT vec_id, array_to_string(list_transform(range(len(embedding)), i ->
           CAST(CASE WHEN maxs[i+1] = mins[i+1] THEN 0
                ELSE floor((CAST(embedding[i+1] AS DOUBLE) - mins[i+1]) * 255.0
                           / (maxs[i+1] - mins[i+1])) END AS INT)), ',') AS codes
         FROM embeddings, arr"""),

    // per-dimension mean/min/max — the mean-centering prep table
    // (decimal-exact sums, one division rounded 1e-6)
    QueryDef("embedding_dim_stats", (s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir)),
      // decimal-exact per-dim sums, one rounded division; min/max are
      // stored values (exact float→double, no arithmetic)
      """SELECT pos - 1 AS dim, count(*) AS n,
           round(CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE)
                 / count(*), 6) AS mean_v,
           min(val) AS min_v, max(val) AS max_v
         FROM (SELECT unnest(embedding::DOUBLE[]) AS val,
                 generate_subscripts(embedding, 1) AS pos FROM embeddings)
         GROUP BY 1"""),

    // pair-cosine histogram on a vec_id%20 key-space sample — the
    // dedup-threshold calibration sweep (a statistic, not pair recovery)
    QueryDef("similarity_histogram", (s, dir) =>
      Similarity.similarityHistogram(Tables.embeddings(s, dir)),
      // identical left-fold cosine doubles, so floor-bucketing can never
      // straddle a boundary differently across engines
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT list_cosine_similarity(a.v, b.v) AS cos
               FROM e a JOIN e b ON a.vec_id % 20 = 0 AND a.vec_id < b.vec_id),
         g AS (SELECT CAST(floor(cos * 10.0) AS BIGINT) AS bucket,
                 count(*) AS n_pairs FROM p GROUP BY 1)
         SELECT bucket, CAST(bucket AS DOUBLE) / 10.0 AS lo, n_pairs,
           CAST(n_pairs AS DOUBLE) / (SELECT count(*) FROM p) AS share
         FROM g"""),

    // E2+: embedding hygiene — corpus norm stats and degenerate vectors
    QueryDef("embedding_norm_stats", (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.functions.VectorOps.l2norm(
            col("embedding").cast("array<double>")).as("norm"))
      e.agg(count(lit(1)).as("n_vectors"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"),
        count(when(col("norm") === 0.0, 1)).as("n_zero"))
    },
      """SELECT count(*) AS n_vectors,
           min(sqrt(list_dot_product(v, v))) AS min_norm,
           max(sqrt(list_dot_product(v, v))) AS max_norm,
           count(CASE WHEN sqrt(list_dot_product(v, v)) = 0.0 THEN 1 END) AS n_zero
         FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings)"""),

    // exact brute-force cosine top-k, broadcast probe set
    QueryDef("similarity_topk", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 32), 5)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                list_cosine_similarity(q.v, c.v) AS sim,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rank
         FROM e q JOIN e c ON q.vec_id <> c.vec_id
         WHERE q.vec_id < 32
         QUALIFY rank <= 5"""),

    // IVF-pruned approximate top-k (the scale path)
    QueryDef("embedding_ann", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 32), 5)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT e.vec_id AS neighbor_id, e.v AS c, cent_id FROM e CROSS JOIN cent
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 1),
         probed AS (
           SELECT e.vec_id AS q_id, e.v AS q, cent_id FROM e CROSS JOIN cent
           WHERE e.vec_id < 32
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 4)
         SELECT q_id, neighbor_id, sim, rank FROM (
           SELECT q_id, neighbor_id, list_cosine_similarity(q, c) AS sim,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY list_cosine_similarity(q, c) DESC, neighbor_id ASC) AS rank
           FROM probed JOIN assigned USING (cent_id)
           WHERE q_id <> neighbor_id)
         WHERE rank <= 5"""),

    // IVF with k-means-refined centroids (2 Lloyd iterations as
    // DataFrame ops; decimal-exact centroid sums for oracle parity)
    QueryDef("embedding_ann_kmeans", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 32), 5, kmeansIters = 2)
    },
      // two unrolled Lloyd iterations; centroids are elementwise
      // DECIMAL(38,18) sums cast to double — exact, order-independent, and
      // direction-equal to the mean (cosine ignores positive scale)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c0 AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         a0 AS (SELECT e.vec_id, e.v, cent_id FROM e CROSS JOIN c0
                QUALIFY row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) = 1),
         c1 AS (SELECT cent_id, list(sval ORDER BY pos) AS g FROM (
                  SELECT cent_id, pos, CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE) AS sval
                  FROM (SELECT cent_id, unnest(v) AS val, generate_subscripts(v,1) AS pos FROM a0)
                  GROUP BY cent_id, pos)
                GROUP BY cent_id),
         a1 AS (SELECT e.vec_id, e.v, cent_id FROM e CROSS JOIN c1
                QUALIFY row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) = 1),
         c2 AS (SELECT cent_id, list(sval ORDER BY pos) AS g FROM (
                  SELECT cent_id, pos, CAST(sum(CAST(val AS DECIMAL(38,18))) AS DOUBLE) AS sval
                  FROM (SELECT cent_id, unnest(v) AS val, generate_subscripts(v,1) AS pos FROM a1)
                  GROUP BY cent_id, pos)
                GROUP BY cent_id),
         assigned AS (
           SELECT e.vec_id AS neighbor_id, e.v AS c, cent_id FROM e CROSS JOIN c2
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 1),
         probed AS (
           SELECT e.vec_id AS q_id, e.v AS q, cent_id FROM e CROSS JOIN c2
           WHERE e.vec_id < 32
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 4)
         SELECT q_id, neighbor_id, sim, rank FROM (
           SELECT q_id, neighbor_id, list_cosine_similarity(q, c) AS sim,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY list_cosine_similarity(q, c) DESC, neighbor_id ASC) AS rank
           FROM probed JOIN assigned USING (cent_id)
           WHERE q_id <> neighbor_id)
         WHERE rank <= 5"""),

    // embedding-cosine near-duplicate pairs
    // banding derived from the threshold + corpus size (SCALE.md rule),
    // not inherited test tuning — (4, 32) at the gate corpus
    QueryDef("embedding_near_dup", (s, dir) => {
      // the synthetic vectors are near-orthogonal gaussians — genuine
      // cosine≥0.5 pairs all but vanish at small SF (0 pairs at sf0.001,
      // 1 at sf0.01), which turned this query into the 0=0 oracle blind
      // spot. Inject a ×2-scaled copy of every 50th vector (doubling is
      // EXACT in IEEE — both engines compute the identical cos), so the
      // op provably finds planted near-dups at every SF
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // the planted ids live at +1000000; if a scale-up ever pushes real
      // ids past the offset the plants would silently ALIAS real vectors
      // (both engines transform identically, so the hash gate could not
      // see it) — fail loudly instead. One-column agg, bounded collect.
      // coalesce: max() is NULL on an empty table — the guard must say
      // so, not NPE (advice round 10)
      val maxVecId =
        base.agg(coalesce(max(col("vec_id")), lit(-1L))).head.getLong(0)
      require(maxVecId < 1000000L,
        s"planted vec_id offset 1000000 would alias real ids (max=$maxVecId)")
      val planted = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val e = base.unionByName(planted)
      val (bits, bands) = Similarity.bandingFor(0.5, e.count())
      Similarity.cosineNearDup(e, threshold = 0.5,
        bitsPerBand = bits, bands = bands)
    },
      // same ×2-scaled plant of every 50th vector (doubling is exact, so
      // both engines see bit-identical cosines)
      """WITH inp AS (SELECT vec_id, embedding FROM embeddings
                      UNION ALL
                      SELECT vec_id + 1000000,
                             list_transform(embedding, x -> x * 2)
                      FROM embeddings WHERE vec_id % 50 = 0),
         e AS (SELECT vec_id, inp.embedding::DOUBLE[] AS v FROM inp)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                list_cosine_similarity(a.v, b.v) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.5"""),

    // SemDeDup: cluster-local semantic dedup — pairwise cosine only
    // within a vector's own cluster, never across the corpus
    QueryDef("semdedup", (s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), threshold = 0.4),
      // same seed centroids / argmax assignment as embedding_ann, then the
      // exact within-cluster max cosine to any lower-id mate
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         a AS (SELECT e.vec_id, e.v, cent_id FROM e CROSS JOIN cent
               QUALIFY row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) = 1),
         m AS (SELECT x.vec_id, max(list_cosine_similarity(x.v, y.v)) AS max_prior_sim
               FROM a x JOIN a y ON x.cent_id = y.cent_id AND y.vec_id < x.vec_id
               GROUP BY x.vec_id)
         SELECT a.vec_id, a.cent_id, m.max_prior_sim,
                coalesce(m.max_prior_sim < 0.4, TRUE) AS keep
         FROM a LEFT JOIN m USING (vec_id)"""),

    // product quantization (IVF-PQ's compression half): 4 subspace
    // codebooks, codes + mean assignment cosine as observable fidelity
    QueryDef("embedding_pq", (s, dir) =>
      Similarity.productQuantize(Tables.embeddings(s, dir)),
      // per-subspace seed → decimal-exact Lloyd step → argmax encode,
      // generated from the operator's own parameters
      Similarity.productQuantizeOracleSql()),

    // contrastive hard-negative mining: top-5 nearest DIFFERENT-label
    // vectors per probe (the decision-boundary examples)
    QueryDef("hard_negatives", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 32), 5)
    },
      // the brute-force top-k oracle with the different-label constraint
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                    FROM embeddings)
         SELECT q.vec_id AS q_id, q.label AS q_label,
                c.vec_id AS neg_id, c.label AS neg_label,
                list_cosine_similarity(q.v, c.v) AS sim,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                           c.vec_id ASC) AS rank
         FROM e q JOIN e c
           ON q.vec_id <> c.vec_id AND q.label <> c.label
         WHERE q.vec_id < 32
         QUALIFY rank <= 5"""),

    // ANN index quality: recall@5 of the IVF index vs brute-force truth
    // per probe — the eval run before trusting an index at scale
    QueryDef("ann_recall_eval", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annRecall(e, e.filter(col("vec_id") < 32), 5)
    },
      // exact top-k CTE + the embedding_ann oracle's IVF CTEs, joined:
      // recall@5 per probe as an int/int division
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         exact AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id
           FROM (SELECT * FROM e WHERE vec_id < 32) q JOIN e c
             ON q.vec_id <> c.vec_id
           QUALIFY row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                      c.vec_id ASC) <= 5),
         cent AS (SELECT vec_id AS cent_id, v AS g FROM e WHERE vec_id < 16),
         assigned AS (
           SELECT e.vec_id AS neighbor_id, e.v AS c, cent_id
           FROM e CROSS JOIN cent
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 1),
         probed AS (
           SELECT e.vec_id AS q_id, e.v AS q, cent_id FROM e CROSS JOIN cent
           WHERE e.vec_id < 32
           QUALIFY row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, g) DESC, cent_id ASC) <= 4),
         approx AS (SELECT q_id, neighbor_id FROM (
           SELECT q_id, neighbor_id,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY list_cosine_similarity(q, c) DESC,
                             neighbor_id ASC) AS rank
           FROM probed JOIN assigned USING (cent_id)
           WHERE q_id <> neighbor_id)
           WHERE rank <= 5)
         SELECT exact.q_id, count(*) AS n_true,
           CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
         FROM exact LEFT JOIN approx
           ON exact.q_id = approx.q_id
              AND exact.neighbor_id = approx.neighbor_id
         GROUP BY exact.q_id""")
  )
}
