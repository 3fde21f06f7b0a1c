package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Fixtures._

/** Statistics over the feeds: profiles, sketches, experiment readouts,
  * hypothesis tests, model evaluation, features and association rules.
  */
object StatsQueries {

  // ---- queries another query reuses (initialized before defs) -----

  // per-priority order-total outliers beyond 1.5 sigma, decided in
  // exact integer (cents) arithmetic so the flag set is reproducible
  val anomalyZscore: QueryDef =
    QueryDef("anomaly_zscore", (s, dir) =>
      Profile.anomalyOutliers(Tables.orders(s, dir),
        group = col("o_orderpriority"), value = col("o_totalprice"),
        idCols = Seq("o_orderkey"), num = 3, den = 2)
        .select(col("o_orderkey"), col("g").as("o_orderpriority"),
          col("value").as("o_totalprice")),
      // round 5: k = num/den = 3/2 sigma, exact cents arithmetic in HUGEINT
      // mirroring the Spark op's DECIMAL(38,0): den^2*dev^2 > num^2*(n*ss - s^2)
      """WITH x AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(round(o_totalprice * 100) AS BIGINT) AS xc FROM orders),
           st AS (SELECT o_orderpriority, count(*) AS n,
                    sum(CAST(xc AS HUGEINT)) AS s,
                    sum(CAST(xc AS HUGEINT) * CAST(xc AS HUGEINT)) AS ss
                  FROM x GROUP BY 1)
         SELECT o_orderkey, x.o_orderpriority, o_totalprice
         FROM x JOIN st USING (o_orderpriority)
         WHERE (CAST(n AS HUGEINT) * xc - s) * (CAST(n AS HUGEINT) * xc - s) * 4 >
               (CAST(n AS HUGEINT) * ss - s * s) * 9""")

  // split-conformal prediction interval per event type: q-hat from
  // the even-id calibration half at alpha=0.1, empirical coverage
  // measured on the odd-id holdout — all rank selections over the
  // bounded (group, cents) count table, one feed scan
  val conformalThreshold: QueryDef =
    QueryDef("conformal_threshold", (s, dir) =>
      Profile.conformalThreshold(Tables.events(s, dir),
        group = col("event_type"), id = col("event_id"),
        value = col("value"))
        .select(col("g").as("event_type"), col("n_cal"), col("n_test"),
          col("med_cents"), col("qhat_cents"), col("n_covered"),
          col("coverage"), col("nominal")),
      // identical count-table rank selections: median, q-hat, and
      // coverage all read CUMULATIVE counts, so no tie order exists
      """WITH e AS (SELECT event_type AS g, event_id % 2 AS side,
               CAST(round(value * 100) AS BIGINT) AS c
             FROM events WHERE value IS NOT NULL),
         cnt AS (SELECT g, c,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS ct
             FROM e GROUP BY 1, 2),
         b AS (SELECT g, c, ca, ct,
               CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT) AS n_cal,
               CAST(sum(ct) OVER (PARTITION BY g) AS BIGINT) AS n_test,
               CAST(sum(ca) OVER (PARTITION BY g ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_ca
             FROM cnt),
         b2 AS (SELECT * FROM b WHERE n_cal > 0 AND n_test > 0),
         med AS (SELECT g, min(c) AS med_cents FROM b2
             WHERE cum_ca >= (n_cal + 1) // 2 GROUP BY 1),
         sc AS (SELECT b2.g, n_cal, n_test, med_cents,
               abs(c - med_cents) AS s,
               CAST(sum(ca) AS BIGINT) AS sa, CAST(sum(ct) AS BIGINT) AS st
             FROM b2 JOIN med ON b2.g = med.g
             GROUP BY 1, 2, 3, 4, 5),
         q AS (SELECT g, n_cal, n_test, med_cents, s, st,
               CAST(sum(sa) OVER (PARTITION BY g ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_sa,
               least(((n_cal + 1) * 9 + 9) // 10, n_cal) AS k
             FROM sc),
         q2 AS (SELECT g, n_cal, n_test, med_cents, s, st,
               min(CASE WHEN cum_sa >= k THEN s END)
                 OVER (PARTITION BY g) AS qhat_cents
             FROM q)
         SELECT g AS event_type, n_cal, n_test, med_cents, qhat_cents,
           CAST(sum(CASE WHEN s <= qhat_cents THEN st ELSE 0 END)
             AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN s <= qhat_cents THEN st ELSE 0 END)
             AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage,
           0.9 AS nominal
         FROM q2 GROUP BY 1, 2, 3, 4, 5""")

  // two-sample KS test on the same even/odd-day populations as
  // drift_report — exact cross-multiplied CDF gap, squared decision
  // (the sqrt-free sibling of ks_test's purchase-vs-click compare)
  val ksDrift: QueryDef =
    QueryDef("ks_drift", (s, dir) =>
      Profile.ksDrift(Tables.events(s, dir),
        side = Profile.evenOddDaySide(col("ts")),
        value = col("value")),
      // same exact cents CDFs, cross-multiplied gap max (min-x tiebreak),
      // and squared HUGEINT decision (c^2 = 1844164/10^6)
      """WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 2 AS INT) AS side
             FROM events WHERE value IS NOT NULL),
         g AS (SELECT x,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
             FROM b GROUP BY 1),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb FROM g),
         c AS (SELECT x, na, nb,
               abs(CAST(sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) * nb
                 - CAST(sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) * na) AS g
             FROM g CROSS JOIN t),
         m AS (SELECT na, nb, max(g) AS d_num FROM c GROUP BY 1, 2)
         SELECT m.na AS n_a, m.nb AS n_b, CAST(m.d_num AS BIGINT) AS d_num,
           CAST(m.d_num AS DOUBLE) / (CAST(m.na AS DOUBLE) * m.nb) AS ks_d,
           (SELECT min(x) FROM c WHERE c.g = m.d_num) AS d_at_cents,
           CAST(m.d_num AS HUGEINT) * m.d_num * 1000000 >
             CAST(1844164 AS HUGEINT) * (m.na + m.nb) * m.na * m.nb
             AS reject
         FROM m""")

  val defs: Seq[QueryDef] = Seq(
    anomalyZscore,

    // two-arm A/B readout: hash-parity assignment over users, per-unit
    // event-value totals, Welch z on exact-decimal moment sums
    QueryDef("ab_test", (s, dir) =>
      Profile.abTestReport(Tables.events(s, dir),
        unit = col("user_id"), metric = col("value")),
      // same per-unit cents totals, hash-parity arms, fixed-shape Welch z
      """WITH pu AS (SELECT user_id AS u,
               sum(CAST(round(value * 100) AS HUGEINT)) AS s
             FROM events GROUP BY 1),
           a AS (SELECT (u * 1000003 % 1000000007) % 2 AS arm, s FROM pu),
           b AS (SELECT arm, count(*) AS n, CAST(sum(s) AS DOUBLE) AS ts,
                   CAST(sum(s * s) AS DOUBLE) AS tss
                 FROM a GROUP BY 1),
           w AS (SELECT
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 0 THEN ts END) AS s0,
               max(CASE WHEN arm = 1 THEN ts END) AS s1,
               max(CASE WHEN arm = 0 THEN tss END) AS q0,
               max(CASE WHEN arm = 1 THEN tss END) AS q1
             FROM b)
         SELECT n0 AS n_control, n1 AS n_treatment,
           round(s0 / n0 / 100.0, 6) AS mean_control,
           round(s1 / n1 / 100.0, 6) AS mean_treatment,
           round(s1 / n1 / 100.0 - s0 / n0 / 100.0, 6) AS diff,
           round((s1 / n1 / 100.0 - s0 / n0 / 100.0)
             / sqrt(((q1 - s1 * s1 / n1) / (n1 - 1) / 10000.0) / n1
                  + ((q0 - s0 * s0 / n0) / (n0 - 1) / 10000.0) / n0), 6) AS welch_z
         FROM w"""),

    // per-type OLS trend of daily event cents vs day offset: exact
    // integer normal-equation sums, one rounded division per coefficient
    QueryDef("regression_ols", (s, dir) =>
      Profile.olsTrend(Tables.events(s, dir), group = col("event_type"),
        ts = col("ts"), value = col("value")),
      // exact BIGINT normal-equation sums (x centered at the group's first
      // day keeps every product < 2^63); one rounded division per coefficient
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
             FROM events GROUP BY 1, 2),
           c AS (SELECT g, day, y,
                   min(day) OVER (PARTITION BY g) AS first_day FROM daily),
           s AS (SELECT g, first_day, count(*) AS n,
                   CAST(sum(date_diff('day', first_day, day)) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(date_diff('day', first_day, day) * y) AS BIGINT) AS sxy,
                   CAST(sum(date_diff('day', first_day, day)
                          * date_diff('day', first_day, day)) AS BIGINT) AS sxx
                 FROM c GROUP BY 1, 2)
         SELECT g, first_day, n AS n_days,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS intercept
         FROM s"""),

    // Benford first-digit audit of order totals: 9-row digit law screen
    QueryDef("benford_digits", (s, dir) =>
      Profile.benfordDigits(Tables.orders(s, dir), col("o_totalprice")),
      // expected_share rounded FIRST (nine log10 constants, none near a
      // 1e-6 boundary), chi2 from the rounded constant in a fixed shape
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM orders),
           c AS (SELECT digit, count(*) AS n_obs FROM d
                 WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
           t AS (SELECT digit, n_obs,
                   CAST(sum(n_obs) OVER () AS BIGINT) AS n_total,
                   round(log10(1 + 1.0 / digit), 6) AS expected_share FROM c)
         SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
           expected_share,
           round((CAST(n_obs AS DOUBLE) - expected_share * CAST(n_total AS DOUBLE))
               * (CAST(n_obs AS DOUBLE) - expected_share * CAST(n_total AS DOUBLE))
               / (expected_share * CAST(n_total AS DOUBLE)), 6) AS chi2_component
         FROM t"""),

    conformalThreshold,

    // per-flag winsorized mean: discrete rank-selected p05/p95 cut values
    QueryDef("winsorized_stats", (s, dir) =>
      Profile.winsorizedStats(Tables.lineitem(s, dir),
        group = col("l_returnflag"), value = col("l_extendedprice")),
      // discrete rank-selected cuts (k = ceil(p*n) in integer arithmetic);
      // tie order cannot change the selected VALUE (ordering is by c only)
      """WITH x AS (SELECT l_returnflag AS g,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
           r AS (SELECT g, c,
                   row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
                   count(*) OVER (PARTITION BY g) AS n_part
                 FROM x),
           k AS (SELECT g, c,
                   (n_part * 5 + 99) // 100 AS k05,
                   (n_part * 95 + 99) // 100 AS k95, rn FROM r),
           cuts AS (SELECT g, c,
                   max(CASE WHEN rn = k05 THEN c END)
                     OVER (PARTITION BY g) AS p05,
                   max(CASE WHEN rn = k95 THEN c END)
                     OVER (PARTITION BY g) AS p95
                 FROM k)
         SELECT g, count(*) AS n,
           CAST(max(p05) AS BIGINT) AS p05_cents,
           CAST(max(p95) AS BIGINT) AS p95_cents,
           round(CAST(sum(c) AS DOUBLE) / count(*) / 100.0, 6) AS mean_raw,
           round(CAST(sum(greatest(p05, least(p95, c))) AS DOUBLE)
             / count(*) / 100.0, 6) AS mean_winsorized
         FROM cuts GROUP BY 1"""),

    // one-scan Pearson matrix over four lineitem metrics, exact moments
    QueryDef("corr_matrix", (s, dir) =>
      Profile.corrMatrix(Tables.lineitem(s, dir), Seq(
        "quantity" -> col("l_quantity"), "price" -> col("l_extendedprice"),
        "discount" -> col("l_discount"), "tax" -> col("l_tax"))),
      // exact integer moment sums; r evaluated as num/sqrt(d1*d2) with the
      // d1*d2 product formed in DOUBLE (exact would overflow 38 digits)
      """WITH x AS (SELECT
               CAST(round(l_quantity * 100) AS BIGINT) AS mq,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS mp,
               CAST(round(l_discount * 100) AS BIGINT) AS md,
               CAST(round(l_tax * 100) AS BIGINT) AS mt FROM lineitem),
           s AS (SELECT count(*) AS n,
               sum(mq) AS s_q, sum(mp) AS s_p, sum(md) AS s_d, sum(mt) AS s_t,
               sum(mq*mq) AS q_q, sum(mp*mp) AS q_p, sum(md*md) AS q_d,
               sum(mt*mt) AS q_t,
               sum(mq*mp) AS p_qp, sum(mq*md) AS p_qd, sum(mq*mt) AS p_qt,
               sum(mp*md) AS p_pd, sum(mp*mt) AS p_pt, sum(md*mt) AS p_dt
             FROM x)
         SELECT 'quantity_price' AS pair,
           round(CAST(n*p_qp - s_q*s_p AS DOUBLE)
             / sqrt(CAST(n*q_q - s_q*s_q AS DOUBLE)
                  * CAST(n*q_p - s_p*s_p AS DOUBLE)), 6) AS corr, n FROM s
         UNION ALL SELECT 'quantity_discount',
           round(CAST(n*p_qd - s_q*s_d AS DOUBLE)
             / sqrt(CAST(n*q_q - s_q*s_q AS DOUBLE)
                  * CAST(n*q_d - s_d*s_d AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'quantity_tax',
           round(CAST(n*p_qt - s_q*s_t AS DOUBLE)
             / sqrt(CAST(n*q_q - s_q*s_q AS DOUBLE)
                  * CAST(n*q_t - s_t*s_t AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'price_discount',
           round(CAST(n*p_pd - s_p*s_d AS DOUBLE)
             / sqrt(CAST(n*q_p - s_p*s_p AS DOUBLE)
                  * CAST(n*q_d - s_d*s_d AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'price_tax',
           round(CAST(n*p_pt - s_p*s_t AS DOUBLE)
             / sqrt(CAST(n*q_p - s_p*s_p AS DOUBLE)
                  * CAST(n*q_t - s_t*s_t AS DOUBLE)), 6), n FROM s
         UNION ALL SELECT 'discount_tax',
           round(CAST(n*p_dt - s_d*s_t AS DOUBLE)
             / sqrt(CAST(n*q_d - s_d*s_d AS DOUBLE)
                  * CAST(n*q_t - s_t*s_t AS DOUBLE)), 6), n FROM s"""),

    // directional association rules over order baskets of parts
    QueryDef("market_basket", (s, dir) =>
      Assoc.marketBasket(Tables.lineitem(s, dir),
        basket = col("l_orderkey"), item = col("l_partkey"),
        minSupport = 2),
      // both directions per qualifying pair; lift's n_ab*N product exact
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                     FROM lineitem),
           nb AS (SELECT count(DISTINCT b) AS n_baskets FROM it),
           ic AS (SELECT i, count(*) AS n_i FROM it GROUP BY 1),
           pr AS (SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_ab
                  FROM it l JOIN it r ON l.b = r.b AND l.i < r.i
                  GROUP BY 1, 2 HAVING count(*) >= 2),
           dir AS (SELECT item_a, item_b, n_ab FROM pr
                   UNION ALL SELECT item_b, item_a, n_ab FROM pr)
         SELECT d.item_a, d.item_b, d.n_ab, a.n_i AS n_a, b.n_i AS n_b,
           nb.n_baskets,
           CAST(d.n_ab AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support,
           CAST(d.n_ab AS DOUBLE) / CAST(a.n_i AS DOUBLE) AS confidence,
           CAST(d.n_ab * nb.n_baskets AS DOUBLE)
             / CAST(a.n_i * b.n_i AS DOUBLE) AS lift
         FROM dir d JOIN ic a ON d.item_a = a.i
           JOIN ic b ON d.item_b = b.i, nb"""),

    // per-user temporal lag/delta/rolling features on one sort
    QueryDef("lag_features", (s, dir) =>
      Features.lagFeatures(Tables.events(s, dir), key = col("user_id"),
        ts = col("ts"), id = col("event_id"), value = col("value")),
      // exact-cents rolling windows: double rolling sums would round
      // differently under DuckDB's segment-tree aggregation
      """SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
           value,
           lag(value) OVER w AS lag1_value,
           CAST(round(value * 100) AS BIGINT)
             - lag(CAST(round(value * 100) AS BIGINT)) OVER w AS delta_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w3 AS BIGINT)
             AS rolling3_sum_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w3 AS DOUBLE)
             / count(*) OVER w3 / 100.0 AS rolling3_mean
         FROM events
         WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id),
           w3 AS (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"""),

    // leave-one-out target encoding of event_type against value
    QueryDef("target_encoding", (s, dir) =>
      Features.targetEncode(Tables.events(s, dir),
        category = col("event_type"), id = col("event_id"),
        target = col("value")),
      // per-category sums broadcast back; LOO = (S - x)/(n - 1)/100 in
      // fixed-order divisions of exact inputs
      """WITH x AS (SELECT event_id AS id, event_type AS cat, value,
               CAST(round(value * 100) AS BIGINT) AS c FROM events),
           s AS (SELECT cat, count(*) AS n_cat,
                   CAST(sum(c) AS BIGINT) AS s_cat FROM x GROUP BY 1)
         SELECT id, cat, value AS target,
           CASE WHEN n_cat = 1 THEN NULL
                ELSE CAST(s_cat - c AS DOUBLE) / (n_cat - 1) / 100.0
                END AS loo_mean
         FROM x JOIN s USING (cat)"""),

    // hash-deterministic contrastive negatives minus accidental positives
    QueryDef("negative_sampling", (s, dir) =>
      Features.negativeSampling(
        Tables.orders(s, dir).join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey")),
        user = col("o_custkey"), item = col("l_partkey"),
        items = Tables.part(s, dir), itemKey = col("p_partkey")),
      // candidate = pure function of (user, item, j) through the portable
      // hash; collisions with true positives anti-joined away
      """WITH pos AS (SELECT DISTINCT o_custkey AS u, l_partkey AS p
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           mx AS (SELECT max(p_partkey) AS np FROM part),
           js AS (SELECT unnest(range(4)) AS j),
           cand AS (SELECT u, p, j,
               1 + ((u * 31 + p * 4 + j) * 1000003 % 1000000007) % np AS neg
             FROM pos, mx, js)
         SELECT c.u AS custkey, c.p AS pos_part, c.j, c.neg AS neg_part
         FROM cand c ANTI JOIN pos q ON c.u = q.u AND c.neg = q.p"""),

    // mergeable histogram p50/p95 sketch with the exact truth beside it
    QueryDef("histogram_quantiles", (s, dir) =>
      Profile.histogramQuantiles(Tables.orders(s, dir),
        group = col("o_orderpriority"), value = col("o_totalprice")),
      // sketch: integer bucket counts + cumulative first-reach; truth:
      // discrete rank selection — both all-integer
      """WITH x AS (SELECT o_orderpriority AS g,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
           r AS (SELECT g, c,
                   row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
                   count(*) OVER (PARTITION BY g) AS n_part FROM x),
           t AS (SELECT g, count(*) AS n,
                   max(CASE WHEN rn = (n_part * 50 + 99) // 100 THEN c END)
                     AS true_p50_cents,
                   max(CASE WHEN rn = (n_part * 95 + 99) // 100 THEN c END)
                     AS true_p95_cents
                 FROM r GROUP BY 1),
           h AS (SELECT g, c // 1000000 AS bucket, count(*) AS n_b
                 FROM x GROUP BY 1, 2),
           cm AS (SELECT g, bucket,
                   CAST(sum(n_b) OVER (PARTITION BY g ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
                 FROM h),
           e AS (SELECT cm.g,
                   (min(CASE WHEN cum * 100 >= t.n * 50 THEN bucket END) + 1)
                     * 1000000 AS est_p50_cents,
                   (min(CASE WHEN cum * 100 >= t.n * 95 THEN bucket END) + 1)
                     * 1000000 AS est_p95_cents
                 FROM cm JOIN t ON cm.g = t.g GROUP BY cm.g, t.n)
         SELECT t.g, t.n, true_p50_cents, est_p50_cents,
           true_p95_cents, est_p95_cents
         FROM t JOIN e ON t.g = e.g"""),

    // rank-based percentile transform within event_type
    QueryDef("quantile_normalize", (s, dir) =>
      Features.quantileNormalize(Tables.events(s, dir),
        group = col("event_type"), id = col("event_id"),
        value = col("value")),
      // rank() over cents only — ties share a rank, tie order cannot leak
      """WITH x AS (SELECT event_type AS g, event_id AS id, value,
               CAST(round(value * 100) AS BIGINT) AS c FROM events),
           r AS (SELECT g, id, value,
                   rank() OVER (PARTITION BY g ORDER BY c) AS rk,
                   count(*) OVER (PARTITION BY g) AS n_part FROM x)
         SELECT g, id, value,
           CASE WHEN n_part = 1 THEN NULL
                ELSE CAST(rk - 1 AS DOUBLE) / CAST(n_part - 1 AS DOUBLE)
                END AS q_norm
         FROM r"""),

    // Mann-Whitney AUC: does event value separate purchases from the rest
    QueryDef("auc_rank", (s, dir) =>
      Profile.aucRank(Tables.events(s, dir),
        label = col("event_type") === "purchase", metric = col("value")),
      // doubled average ranks stay integer: 2*avg_rank = 2*cum + t + 1
      """WITH x AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             FROM events),
           g AS (SELECT c, count(*) AS t, CAST(sum(y) AS BIGINT) AS p
                 FROM x GROUP BY 1),
           w AS (SELECT c, t, p,
                   COALESCE(CAST(sum(t) OVER (ORDER BY c
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS cum FROM g),
           a AS (SELECT CAST(sum(p) AS HUGEINT) AS npos,
                   CAST(sum(t - p) AS HUGEINT) AS nneg,
                   CAST(sum(CAST(p AS HUGEINT)
                     * (2 * CAST(cum AS HUGEINT) + t + 1)) AS HUGEINT) AS r2
                 FROM w)
         SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
           CASE WHEN npos = 0 OR nneg = 0 THEN NULL
                ELSE round(CAST(r2 - npos * (npos + 1) AS DOUBLE)
                       / CAST(2 * npos * nneg AS DOUBLE), 6) END AS auc
         FROM a"""),

    // CUPED: pre-period covariate-adjusted A/B means, hash-parity arms
    QueryDef("cuped_adjust", (s, dir) =>
      Profile.cupedAdjust(Tables.events(s, dir), unit = col("user_id"),
        ts = col("ts"), metric = col("value"), cutoff = "2024-01-16"),
      // theta from pooled exact moments; fixed IEEE op sequence, round 6
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS x,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y
             FROM events GROUP BY 1),
           a AS (SELECT (u * 1000003 % 1000000007) % 2 AS arm, x, y FROM pu),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
                   CAST(sum(x * y) AS HUGEINT) AS sxy,
                   CAST(sum(x * x) AS HUGEINT) AS sxx FROM a),
           b AS (SELECT arm, count(*) AS na,
                   CAST(sum(x) AS DOUBLE) AS sxa,
                   CAST(sum(y) AS DOUBLE) AS sya FROM a GROUP BY 1),
           w AS (SELECT
               max(CASE WHEN arm = 0 THEN na END) AS n0,
               max(CASE WHEN arm = 1 THEN na END) AS n1,
               max(CASE WHEN arm = 0 THEN sxa END) AS x0,
               max(CASE WHEN arm = 1 THEN sxa END) AS x1,
               max(CASE WHEN arm = 0 THEN sya END) AS y0,
               max(CASE WHEN arm = 1 THEN sya END) AS y1
             FROM b),
           t AS (SELECT w.*,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
             FROM w, m)
         SELECT n0 AS n_control, n1 AS n_treatment,
           round(theta, 6) AS theta,
           round(y0 / n0 / 100.0, 6) AS mean_control,
           round(y1 / n1 / 100.0, 6) AS mean_treatment,
           round((y0 / n0 - theta * (x0 / n0 - xbar)) / 100.0, 6) AS adj_control,
           round((y1 / n1 - theta * (x1 / n1 - xbar)) / 100.0, 6) AS adj_treatment,
           round((y1 / n1 - theta * (x1 / n1 - xbar)) / 100.0
               - (y0 / n0 - theta * (x0 / n0 - xbar)) / 100.0, 6) AS diff_adjusted
         FROM t"""),

    // two-sample KS over the distinct-cents domain: purchase vs click
    QueryDef("ks_test", (s, dir) =>
      Profile.ksTest(Tables.events(s, dir), metric = col("value"),
        sample = col("event_type"), a = "purchase", b = "click"),
      // exact HUGEINT D-numerator over the distinct-cents domain; the
      // rejection compares the unrounded fixed-shape doubles on both sides
      """WITH x AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
             FROM events WHERE event_type IN ('purchase', 'click')),
           g AS (SELECT c, CAST(sum(ia) AS BIGINT) AS ta,
                   CAST(sum(1 - ia) AS BIGINT) AS tb FROM x GROUP BY 1),
           w AS (SELECT c,
                   CAST(sum(ta) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_a,
                   CAST(sum(tb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_b,
                   CAST(sum(ta) OVER () AS HUGEINT) AS n_a,
                   CAST(sum(tb) OVER () AS HUGEINT) AS n_b
                 FROM g),
           d AS (SELECT c, n_a, n_b,
                   abs(cum_a * n_b - cum_b * n_a) AS dnum,
                   max(abs(cum_a * n_b - cum_b * n_a)) OVER () AS mx
                 FROM w),
           m AS (SELECT n_a, n_b, mx, min(c) AS at_cents FROM d
                 WHERE dnum = mx GROUP BY 1, 2, 3)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           at_cents,
           round(CAST(mx AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6) AS d_stat,
           round(1.3581 * sqrt(CAST(n_a + n_b AS DOUBLE)
             / CAST(n_a * n_b AS DOUBLE)), 6) AS crit_05,
           (CAST(mx AS DOUBLE) / CAST(n_a * n_b AS DOUBLE))
             > (1.3581 * sqrt(CAST(n_a + n_b AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE))) AS reject_05
         FROM m"""),

    // per-cell MI relevance of $50 value buckets vs event_type
    QueryDef("feature_mi", (s, dir) =>
      Features.featureMi(Tables.events(s, dir), feature = col("value"),
        label = col("event_type")),
      // per-cell MI: one division feeding one ln — no cross-row double sum
      """WITH x AS (SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 5)
                 AS bucket, event_type AS label FROM events),
           c AS (SELECT bucket, label, count(*) AS n FROM x GROUP BY 1, 2),
           t AS (SELECT bucket, label, n,
                   CAST(sum(n) OVER (PARTITION BY bucket) AS BIGINT) AS n_b,
                   CAST(sum(n) OVER (PARTITION BY label) AS BIGINT) AS n_t,
                   CAST(sum(n) OVER () AS BIGINT) AS n_all FROM c)
         SELECT bucket, label, n,
           round(CAST(n * n_all AS DOUBLE) / CAST(n_b * n_t AS DOUBLE), 6)
             AS lift,
           round(CAST(n AS DOUBLE) / CAST(n_all AS DOUBLE)
             * ln(CAST(n * n_all AS DOUBLE) / CAST(n_b * n_t AS DOUBLE)), 6)
             AS mi_contrib
         FROM t"""),

    // delta-method CI for purchase revenue per event (unit = user)
    QueryDef("ratio_metric_ci", (s, dir) =>
      Profile.ratioMetricCi(Tables.events(s, dir), unit = col("user_id"),
        num = when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)),
        den = lit(1L)),
      // per-unit (x,y) pairs; fixed IEEE sequence mirroring ratioMetricCi
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CASE WHEN event_type = 'purchase'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                 AS HUGEINT) AS y,
               CAST(count(*) AS HUGEINT) AS x
             FROM events GROUP BY 1),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy FROM pu),
           t AS (SELECT CAST(n AS BIGINT) AS n_units,
               CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) / 100.0 AS r,
               CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS rc,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
               CAST(n AS DOUBLE) AS nd,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vy,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS cxy
             FROM m),
           s AS (SELECT n_units, r,
               sqrt((vy - 2.0 * rc * cxy + rc * rc * vx) / nd)
                 / xbar / 100.0 AS se
             FROM t)
         SELECT n_units, round(r, 6) AS ratio, round(se, 6) AS se,
           round(r - 1.96 * se, 6) AS ci_lo,
           round(r + 1.96 * se, 6) AS ci_hi
         FROM s"""),

    // hash-derived truncated-Poisson(1) weights, rank CI over B=40 means
    QueryDef("poisson_bootstrap", (s, dir) =>
      Profile.poissonBootstrap(Tables.events(s, dir),
        unit = col("user_id"), metric = col("value")),
      // fixed exp(-1) integer thresholds; replicate means exact ratios;
      // CI = exact rank 2 / 39 of the 40 ascending replicate means
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
             FROM events GROUP BY 1),
           e AS (SELECT u, s, CAST(t.b AS BIGINT) AS b
                 FROM pu, range(40) t(b)),
           h AS (SELECT b, s,
                   (u * 131 + b) * 1000003 % 1000000007 AS h FROM e),
           ww AS (SELECT b, s,
                   CASE WHEN h < 367879444 THEN 0
                        WHEN h < 735758887 THEN 1
                        WHEN h < 919698609 THEN 2 ELSE 3 END AS w FROM h),
           rm AS (SELECT b, CAST(sum(w) AS HUGEINT) AS nw,
                   CAST(sum(w * s) AS HUGEINT) AS sw FROM ww GROUP BY 1),
           mb AS (SELECT b, CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) / 100.0
                   AS mean_b FROM rm WHERE nw > 0),
           rk AS (SELECT b, mean_b,
                   row_number() OVER (ORDER BY mean_b, b) AS rn FROM mb),
           pt AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   CAST(sum(s) AS HUGEINT) AS tot FROM pu)
         SELECT (SELECT count(*) FROM rk) AS n_replicates,
           round(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean,
           round((SELECT mean_b FROM rk WHERE rn = 2), 6) AS ci_lo,
           round((SELECT mean_b FROM rk WHERE rn = 39), 6) AS ci_hi
         FROM pt"""),

    // MDE at current arm sizes from exact pooled moments
    QueryDef("power_mde", (s, dir) =>
      Profile.powerMde(Tables.events(s, dir), unit = col("user_id"),
        metric = col("value")),
      // z constants as ONE literal each side; pooled var in exact cents
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS s
             FROM events GROUP BY 1),
           a AS (SELECT (u * 1000003 % 1000000007) % 2 AS arm, s FROM pu),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(s) AS HUGEINT) AS sy,
               CAST(sum(s * s) AS HUGEINT) AS syy,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
             FROM a),
           t AS (SELECT n0, n1, sy, n,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0
                 AS vp FROM m)
         SELECT n0, n1, round(sqrt(vp), 6) AS pooled_sd,
           round(2.801585 * sqrt(vp / n1 + vp / n0), 6) AS mde_abs,
           round(2.801585 * sqrt(vp / n1 + vp / n0)
             / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0), 6) AS mde_rel
         FROM t"""),

    // pre-period-quintile strata, per-stratum arm means and lift
    QueryDef("propensity_strata", (s, dir) =>
      Profile.propensityStrata(Tables.events(s, dir),
        unit = col("user_id"), ts = col("ts"), metric = col("value"),
        cutoff = "2024-01-16"),
      // quintiles of pre-period cents, deterministic (x, u) rank order
      """WITH pu AS (SELECT user_id AS u,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                 AS BIGINT) AS x,
               CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                 AS BIGINT) AS y
             FROM events GROUP BY 1),
           a AS (SELECT u, x, y,
                   (u * 1000003 % 1000000007) % 2 AS arm FROM pu),
           r AS (SELECT *, row_number() OVER (ORDER BY x, u) AS rn,
                   count(*) OVER () AS n_all FROM a),
           s AS (SELECT *, (rn - 1) * 5 // n_all AS stratum FROM r),
           g AS (SELECT stratum, count(*) AS n,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS HUGEINT) AS sy0,
               CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS HUGEINT) AS sy1
             FROM s GROUP BY 1)
         SELECT CAST(stratum AS BIGINT) AS stratum, n, n0, n1,
           CASE WHEN n0 = 0 THEN NULL
                ELSE round(CAST(sy0 AS DOUBLE) / n0 / 100.0, 6)
                END AS mean_control,
           CASE WHEN n1 = 0 THEN NULL
                ELSE round(CAST(sy1 AS DOUBLE) / n1 / 100.0, 6)
                END AS mean_treatment,
           CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
                ELSE round(CAST(sy1 AS DOUBLE) / n1 / 100.0
                       - CAST(sy0 AS DOUBLE) / n0 / 100.0, 6)
                END AS diff
         FROM g"""),

    // KMV/theta sketch: distinct + pairwise union/intersection estimates
    QueryDef("kmv_sketch", (s, dir) =>
      Profile.kmvSketch(Tables.events(s, dir), group = col("event_type"),
        id = col("user_id")),
      // k smallest distinct hashes per set; (k-1)*M/h_k estimator
      """WITH d AS (SELECT DISTINCT event_type AS g,
               user_id * 1000003 % 1000000007 AS h FROM events),
           r AS (SELECT g, h,
                   row_number() OVER (PARTITION BY g ORDER BY h) AS rk
                 FROM d),
           sk AS (SELECT g, h FROM r WHERE rk <= 64),
           e AS (SELECT g, count(*) AS kk, max(h) AS hk
                 FROM sk GROUP BY 1),
           est AS (SELECT g, CASE WHEN kk < 64 THEN CAST(kk AS DOUBLE)
                     ELSE CAST(kk - 1 AS DOUBLE) * 1000000007.0
                       / CAST(hk AS DOUBLE) END AS est FROM e),
           gp AS (SELECT a.g AS ga, b.g AS gb
                  FROM (SELECT DISTINCT g FROM sk) a,
                       (SELECT DISTINCT g FROM sk) b WHERE a.g < b.g),
           pu AS (SELECT ga, gb, h FROM gp JOIN sk ON sk.g = gp.ga
                  UNION
                  SELECT ga, gb, h FROM gp JOIN sk ON sk.g = gp.gb),
           uk AS (SELECT ga, gb, h,
                   row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
                  FROM pu),
           ukk AS (SELECT ga, gb, h FROM uk WHERE rk <= 64),
           m0 AS (SELECT ukk.ga, ukk.gb, ukk.h,
                   CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                        THEN 1 ELSE 0 END AS bothm
                  FROM ukk
                  LEFT JOIN sk sa ON sa.g = ukk.ga AND sa.h = ukk.h
                  LEFT JOIN sk sb ON sb.g = ukk.gb AND sb.h = ukk.h),
           m AS (SELECT ga, gb, count(*) AS ku, max(h) AS hku,
                   CAST(sum(bothm) AS BIGINT) AS n_both
                 FROM m0 GROUP BY 1, 2)
         SELECT m.ga, m.gb, n_both,
           round(ea.est, 6) AS est_a, round(eb.est, 6) AS est_b,
           round(CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
             ELSE CAST(ku - 1 AS DOUBLE) * 1000000007.0
               / CAST(hku AS DOUBLE) END, 6) AS est_union,
           round(CAST(n_both AS DOUBLE) / CAST(ku AS DOUBLE)
             * (CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
                 ELSE CAST(ku - 1 AS DOUBLE) * 1000000007.0
                   / CAST(hku AS DOUBLE) END), 6) AS est_inter
         FROM m JOIN est ea ON ea.g = m.ga JOIN est eb ON eb.g = m.gb"""),

    // exact quantity-weighted price percentiles per returnflag
    QueryDef("weighted_quantiles", (s, dir) =>
      Profile.weightedQuantiles(Tables.lineitem(s, dir),
        group = col("l_returnflag"), value = col("l_extendedprice"),
        weight = col("l_quantity")),
      // weights pre-summed per distinct value; integer cumsum thresholds
      """WITH x AS (SELECT l_returnflag AS g,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
               CAST(l_quantity AS BIGINT) AS w FROM lineitem),
           v AS (SELECT g, c, CAST(sum(w) AS BIGINT) AS wv
                 FROM x GROUP BY 1, 2),
           cu AS (SELECT g, c, wv,
               CAST(sum(wv) OVER (PARTITION BY g ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
               CAST(sum(wv) OVER (PARTITION BY g) AS BIGINT) AS tot
             FROM v)
         SELECT g, max(tot) AS total_weight,
           CAST(min(CASE WHEN cum * 4 >= tot THEN c END) AS DOUBLE) / 100.0
             AS p25,
           CAST(min(CASE WHEN cum * 2 >= tot THEN c END) AS DOUBLE) / 100.0
             AS p50,
           CAST(min(CASE WHEN cum * 4 >= tot * 3 THEN c END) AS DOUBLE)
             / 100.0 AS p75
         FROM cu GROUP BY 1"""),

    // deterministic bottom-k-by-hash quantile sketch: O(k) per-group
    // state, WindowGroupLimit-pruned, oracle replays it bit-for-bit
    QueryDef("sketch_quantiles", (s, dir) =>
      Profile.sketchQuantiles(Tables.lineitem(s, dir),
        group = col("l_returnflag"),
        id = col("l_orderkey") * 8 + col("l_linenumber"),
        value = col("l_extendedprice"))
        .withColumnRenamed("g", "l_returnflag"),
      // the oracle replays the deterministic bottom-k-by-hash sample and
      // its order statistics bit-for-bit
      sketchQuantilesOracle),

    // same answer computed the INCREMENTAL way: independent per-shard
    // sketches merged by re-taking the k smallest hashes — registered
    // against the SAME oracle as sketch_quantiles, so the hash-match IS
    // the executed mergeability proof
    QueryDef("sketch_quantiles_merged", (s, dir) =>
      Profile.sketchQuantilesMerged(Tables.lineitem(s, dir),
        group = col("l_returnflag"),
        id = col("l_orderkey") * 8 + col("l_linenumber"),
        value = col("l_extendedprice"))
        .withColumnRenamed("g", "l_returnflag"),
      // SAME oracle on purpose: merged per-shard sketches must equal the
      // global sketch (KMV merge identity) — the hash-match executes it
      sketchQuantilesOracle),

    // NDCG@5 of exact-cosine retrieval, relevance = label match
    QueryDef("ndcg_eval", (s, dir) =>
      Eval.ndcgEval(Tables.embeddings(s, dir)),
      // DCG gain literals generated by the same Scala computation the
      // operator uses — neither engine evaluates its own log2
      Eval.ndcgOracleSql()),

    // gains table: activity-ranked user deciles vs purchase capture
    QueryDef("decile_lift", (s, dir) =>
      Eval.decileLift(Tables.events(s, dir), unit = col("user_id"),
        positive = col("event_type") === "purchase"),
      // integer rank -> integer decile cut; one rounded division per rate
      """WITH pu AS (SELECT user_id AS u, count(*) AS score,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS pos
             FROM events GROUP BY 1),
           r AS (SELECT u, score, pos,
                   row_number() OVER (ORDER BY score DESC, u ASC) AS rn,
                   count(*) OVER () AS n_units
                 FROM pu),
           b AS (SELECT ((rn - 1) * 10) // n_units AS decile,
                   count(*) AS n_units, sum(pos) AS positives
                 FROM r GROUP BY 1),
           t AS (SELECT decile, n_units, positives,
                   sum(positives) OVER () AS tot_pos,
                   sum(n_units) OVER () AS tot_units,
                   sum(positives) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_pos
                 FROM b)
         SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_units AS BIGINT) AS n_units,
           CAST(positives AS BIGINT) AS positives,
           round(CAST(positives AS DOUBLE) / CAST(n_units AS DOUBLE), 6)
             AS pos_rate,
           round(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6)
             AS cum_capture,
           round(CAST(positives * tot_units AS DOUBLE)
               / CAST(n_units * tot_pos AS DOUBLE), 6) AS lift
         FROM t"""),

    // kNN confusion cells with class totals and per-cell P/R
    QueryDef("eval_confusion", (s, dir) =>
      Eval.confusionMatrix(Tables.embeddings(s, dir)),
      // knn_classify's vote CTE + cell/margin counts; P/R are one
      // integer division each, rounded 1e-6
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
           preds AS (SELECT q_id, true_label, n_label AS pred_label
                     FROM votes
                     QUALIFY row_number() OVER (PARTITION BY q_id
                       ORDER BY n_votes DESC, n_label ASC) = 1),
           cells AS (SELECT true_label, pred_label, count(*) AS n
                     FROM preds GROUP BY 1, 2),
           m AS (SELECT true_label, pred_label, n,
                   sum(n) OVER (PARTITION BY true_label) AS true_total,
                   sum(n) OVER (PARTITION BY pred_label) AS pred_total
                 FROM cells)
         SELECT true_label, pred_label, CAST(n AS BIGINT) AS n,
           CAST(true_total AS BIGINT) AS true_total,
           CAST(pred_total AS BIGINT) AS pred_total,
           round(CAST(n AS DOUBLE) / CAST(pred_total AS DOUBLE), 6)
             AS precision,
           round(CAST(n AS DOUBLE) / CAST(true_total AS DOUBLE), 6)
             AS recall
         FROM m"""),

    // chi-squared independence cells, same $50 buckets as feature_mi
    QueryDef("chi2_independence", (s, dir) =>
      Eval.chi2Independence(Tables.events(s, dir),
        feature = col("value"), label = col("event_type")),
      // (o*n - r*c)^2 squared in HUGEINT (Spark: DECIMAL(38,0)) — the
      // difference reaches ~1e11 at sf0.1 and its square overflows BIGINT
      """WITH x AS (SELECT least(CAST(round(value * 100) AS BIGINT) // 5000,
                 5) AS bucket, event_type AS label FROM events),
           c AS (SELECT bucket, label, count(*) AS observed
                 FROM x GROUP BY 1, 2),
           t AS (SELECT label, bucket, observed,
                   CAST(sum(observed) OVER (PARTITION BY label) AS BIGINT)
                     AS row_total,
                   CAST(sum(observed) OVER (PARTITION BY bucket) AS BIGINT)
                     AS col_total,
                   CAST(sum(observed) OVER () AS BIGINT) AS n_all
                 FROM c)
         SELECT label, bucket, observed, row_total, col_total, n_all,
           round(CAST(row_total * col_total AS DOUBLE)
               / CAST(n_all AS DOUBLE), 6) AS expected,
           round(CAST(CAST(observed * n_all - row_total * col_total
                 AS HUGEINT)
               * (observed * n_all - row_total * col_total) AS DOUBLE)
               / CAST(CAST(row_total AS HUGEINT) * col_total * n_all
                 AS DOUBLE), 6) AS chi2_term
         FROM t"""),

    // reliability bins: click-share score vs purchase rate per bin
    QueryDef("calibration_bins", (s, dir) =>
      Eval.calibrationBins(Tables.events(s, dir), unit = col("user_id"),
        scoreEvent = col("event_type") === "click",
        positive = col("event_type") === "purchase"),
      // integer bin cut (10*clicks div total); mean_pred recovered from
      // exact integer micro-units so per-user fold order cannot matter
      """WITH pu AS (SELECT user_id AS u,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS clicks,
               count(*) AS total,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS pos
             FROM events GROUP BY 1),
           b AS (SELECT least((clicks * 10) // total, 9) AS bin,
                   (clicks * 1000000) // total AS pred_scaled, pos
                 FROM pu)
         SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT)
             AS n_units,
           CAST(sum(pos) AS BIGINT) AS positives,
           round(CAST(sum(pred_scaled) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS mean_pred,
           round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate
         FROM b GROUP BY 1"""),

    // value-distribution drift between even and odd epoch days (A/A shape)
    QueryDef("drift_report", (s, dir) => {
      val e = Tables.events(s, dir)
      Profile.driftReport(e,
        side = Profile.evenOddDaySide(col("ts")),
        bucket = floor(col("value") / lit(10.0)).cast("long"))
    },
      """WITH b AS (SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 2 AS INT) AS side
             FROM events),
           g AS (SELECT bucket,
                   sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_a,
                   sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_b
                 FROM b GROUP BY 1),
           t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM g)
         SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS p_a,
           CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS p_b,
           abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
             - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS drift
         FROM g, t"""),

    ksDrift,

    // Theil-Sen robust trend per event type: exact floor-scaled median
    // of pairwise daily slopes (29% breakdown vs OLS's zero)
    QueryDef("theil_sen", (s, dir) =>
      Profile.theilSen(Tables.events(s, dir), group = col("event_type"),
        ts = col("ts"), value = col("value"))
        .select(col("g").as("event_type"), col("n_days"), col("n_pairs"),
          col("slope")),
      // identical floor-scaled slope keys ((a - mod) // den is exactly
      // divisible, so truncate == floor in both engines) and the same
      // lower-mid-rank median under the (key, den, num) total order
      """WITH daily AS (SELECT event_type AS g,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
             FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         d AS (SELECT g, CAST(date_diff('day',
                 min(day) OVER (PARTITION BY g), day) AS BIGINT) AS x, y
             FROM daily),
         p AS (SELECT a.g, (b.y - a.y) * 1000000 AS num,
               b.x - a.x AS den
             FROM d a JOIN d b ON a.g = b.g AND a.x < b.x),
         k AS (SELECT g, num, den,
               (num - ((num % den) + den) % den) // den AS slope_key
             FROM p),
         r AS (SELECT g, slope_key, num, den,
               row_number() OVER (PARTITION BY g
                 ORDER BY slope_key, den, num) AS rn,
               count(*) OVER (PARTITION BY g) AS cnt
             FROM k),
         med AS (SELECT g, slope_key, CAST(cnt AS BIGINT) AS cnt
             FROM r WHERE rn = (cnt + 1) // 2),
         nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days
             FROM daily GROUP BY 1)
         SELECT nd.g AS event_type, n_days,
           coalesce(cnt, 0) AS n_pairs,
           round(CAST(slope_key AS DOUBLE) / 1000000.0, 6) AS slope
         FROM nd LEFT JOIN med ON nd.g = med.g"""),

    // CUSUM changepoint per event type: the day where cumulative
    // deviation from the series mean peaks, in scaled-integer BIGINT
    QueryDef("changepoint_cusum", (s, dir) =>
      Profile.changepointCusum(eventsBase(s, dir),
        group = col("event_type"), ts = col("ts"))
        .select(col("g").as("event_type"), col("change_day"),
          col("s_scaled"), col("n_days"), col("n_events")),
      // scaled-integer CUSUM: S_t*n = n*cumsum_t - t*total stays BIGINT,
      // so the argmax day is bit-reproducible (earliest-day tiebreak)
      """WITH d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 count(*) AS c
               FROM events GROUP BY 1, 2),
         c AS (SELECT event_type, day,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY day ASC) AS BIGINT) AS t,
                 CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
                 CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
               FROM d),
         s AS (SELECT event_type, day,
                 n_days * cs - t * total AS s_scaled, n_days, total FROM c),
         p AS (SELECT *, max(abs(s_scaled)) OVER (PARTITION BY event_type) AS peak
               FROM s),
         f AS (SELECT event_type, day, s_scaled, n_days, total
               FROM p WHERE abs(s_scaled) = peak)
         SELECT event_type, day AS change_day, s_scaled, n_days,
                total AS n_events
         FROM (SELECT f.*, row_number() OVER (PARTITION BY event_type
                 ORDER BY day ASC) AS rn FROM f)
         WHERE rn = 1"""),

    // 7-day rolling median of daily volume per event type — burst-robust
    // smoothing; even frames average two longs (dyadic, exact)
    QueryDef("rolling_median", (s, dir) =>
      Profile.rollingMedian(eventsBase(s, dir), group = col("event_type"),
        ts = col("ts"))
        .select(col("g").as("event_type"), col("day"), col("c"), col("med")),
      // DuckDB's windowed median interpolates even frames as the mean of
      // the two middle BIGINTs — the same dyadic value the operator forms
      """WITH d AS (SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
             FROM events GROUP BY 1, 2)
         SELECT event_type, day, c,
           median(c) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
         FROM d"""),

    // count-min sketch estimates vs exact truth for the top-10 keys
    QueryDef("cms_estimate", (s, dir) =>
      Profile.cmsEstimate(Tables.events(s, dir), col("user_id"), topN = 10),
      """WITH sk AS (
           SELECT d, b, count(*) AS c FROM (
             SELECT UNNEST([
               struct_pack(d := 0, b := ((user_id * 1000003 + 12345) % 2038074743) % 1024),
               struct_pack(d := 1, b := ((user_id * 999983 + 54321) % 2038074743) % 1024),
               struct_pack(d := 2, b := ((user_id * 824633 + 98765) % 2038074743) % 1024),
               struct_pack(d := 3, b := ((user_id * 7368787 + 13579) % 2038074743) % 1024)
             ], recursive := true) FROM events) GROUP BY d, b),
           top AS (SELECT user_id AS key, count(*) AS n FROM events
                   GROUP BY 1 ORDER BY n DESC, key ASC LIMIT 10),
           e AS (SELECT key, n, UNNEST([
               struct_pack(d := 0, b := ((key * 1000003 + 12345) % 2038074743) % 1024),
               struct_pack(d := 1, b := ((key * 999983 + 54321) % 2038074743) % 1024),
               struct_pack(d := 2, b := ((key * 824633 + 98765) % 2038074743) % 1024),
               struct_pack(d := 3, b := ((key * 7368787 + 13579) % 2038074743) % 1024)
             ], recursive := true) FROM top)
         SELECT key, n AS exact_n, min(c) AS cms_estimate
         FROM e JOIN sk USING (d, b) GROUP BY key, n"""),

    // exact GLOBAL median in two passes, no global sort: bucket
    // histogram locates the rank-k bucket (1-row broadcast frame),
    // pass 2 ranks only that bucket's rows
    QueryDef("exact_median_2pass", (s, dir) =>
      Profile.exactMedian2Pass(Tables.orders(s, dir), col("o_totalprice")),
      // same rank arithmetic, full sort (the thing the engine avoids)
      """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders),
         s AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
         n AS (SELECT count(*) AS n FROM v)
         SELECT n.n, s.c AS median_cents FROM s, n
         WHERE s.rn = (n.n + 1) // 2"""),

    // key-skew diagnostic: top-10 heaviest users with share of all events
    QueryDef("heavy_hitters", (s, dir) =>
      Profile.heavyHitters(Tables.events(s, dir), col("user_id"), topN = 10),
      """SELECT user_id AS key, count(*) AS n,
           CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
         FROM events GROUP BY user_id
         ORDER BY n DESC, key ASC LIMIT 10"""),

    // one-scan numeric column profile (min/max/nulls/distinct per column)
    QueryDef("profile_numeric", (s, dir) =>
      Profile.profileNumeric(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_totalprice")),
      """SELECT 'o_orderkey' AS "column",
           CAST(min(o_orderkey) AS DOUBLE) AS min_value,
           CAST(max(o_orderkey) AS DOUBLE) AS max_value,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct FROM orders
         UNION ALL
         SELECT 'o_custkey',
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_custkey) FROM orders
         UNION ALL
         SELECT 'o_totalprice',
           CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice) FROM orders"""),

    // HyperLogLog distinct customers per order priority, next to exact
    // truth — m=64 registers/group, every step cross-engine bit-exact
    QueryDef("hll_distinct", (s, dir) =>
      Profile.hllDistinct(Tables.orders(s, dir),
        group = col("o_orderpriority"), key = col("o_custkey"))
        .select(col("g").as("o_orderpriority"), col("n_exact"),
          col("hll_estimate")),
      // identical hash (murmur-style finalizer), register build, and
      // estimator arithmetic; every float literal CAST to DOUBLE (bare
      // 0.709 parses as DECIMAL here)
      """WITH x1 AS (SELECT o_orderpriority AS g,
               (o_custkey * 2654435761) % 2147483648 AS h1 FROM orders),
         x2 AS (SELECT g,
               (xor(h1, h1 >> 15) * 2246822519) % 2147483648 AS h2 FROM x1),
         x AS (SELECT g, xor(h2, h2 >> 13) AS h FROM x2),
         b AS (SELECT g, h // 33554432 AS bkt, h % 33554432 AS w FROM x),
         r AS (SELECT g, bkt,
                 max(CASE WHEN w = 0 THEN 26 ELSE 26 - length(bin(w)) END) AS M
               FROM b GROUP BY 1, 2),
         e AS (SELECT g, count(*) AS n_regs,
                 sum(power(CAST(2 AS DOUBLE), -M)) AS z_used FROM r GROUP BY 1),
         f AS (SELECT g, n_regs,
                 z_used + CAST(64 - n_regs AS DOUBLE) AS z,
                 64 - n_regs AS v FROM e),
         est AS (SELECT g,
             CASE WHEN CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z <= 160 AND v > 0
                  THEN round(CAST(64 AS DOUBLE)
                    * ln(CAST(64 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
                  ELSE round(CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z, 6) END AS hll_estimate
           FROM f),
         ex AS (SELECT o_orderpriority AS g,
                  count(DISTINCT o_custkey) AS n_exact FROM orders GROUP BY 1)
         SELECT ex.g AS o_orderpriority, n_exact, hll_estimate
         FROM ex JOIN est USING (g)"""),

    // trailing-7-day distinct users per day from HLL register merges:
    // raw feed scanned once; window logic runs on the sketch table
    QueryDef("hll_sliding", (s, dir) =>
      Profile.hllSlidingDistinct(Tables.events(s, dir),
        ts = col("ts"), key = col("user_id")),
      // same registers per day, max-merged over the trailing window
      """WITH ev AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               user_id FROM events),
         x1 AS (SELECT day, (user_id * 2654435761) % 2147483648 AS h1 FROM ev),
         x2 AS (SELECT day,
               (xor(h1, h1 >> 15) * 2246822519) % 2147483648 AS h2 FROM x1),
         x AS (SELECT day, xor(h2, h2 >> 13) AS h FROM x2),
         b AS (SELECT day, h // 33554432 AS bkt, h % 33554432 AS w FROM x),
         r AS (SELECT day, bkt,
                 max(CASE WHEN w = 0 THEN 26 ELSE 26 - length(bin(w)) END) AS M
               FROM b GROUP BY 1, 2),
         days AS (SELECT DISTINCT day FROM r),
         mg AS (SELECT d.day, r.bkt, max(M) AS M
                FROM days d JOIN r ON r.day BETWEEN d.day - 6 AND d.day
                GROUP BY 1, 2),
         e AS (SELECT day, count(*) AS n_regs,
                 sum(power(CAST(2 AS DOUBLE), -M)) AS z_used FROM mg GROUP BY 1),
         f AS (SELECT day, n_regs,
                 z_used + CAST(64 - n_regs AS DOUBLE) AS z,
                 64 - n_regs AS v FROM e),
         est AS (SELECT day,
             CASE WHEN CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z <= 160 AND v > 0
                  THEN round(CAST(64 AS DOUBLE)
                    * ln(CAST(64 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
                  ELSE round(CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z, 6) END AS hll_estimate
           FROM f),
         ex AS (SELECT d.day, count(DISTINCT e2.user_id) AS n_exact
                FROM days d JOIN ev e2 ON e2.day BETWEEN d.day - 6 AND d.day
                GROUP BY 1)
         SELECT ex.day, n_exact, hll_estimate FROM ex JOIN est USING (day)"""),

    // weekday-seasonal anomaly baseline: same exact-decimal k-sigma
    // machinery, grouped by (event_type, day-of-week)
    QueryDef("anomaly_seasonal", (s, dir) =>
      Profile.anomalyOutliers(
        eventsBase(s, dir).withColumn("season",
          concat_ws("|", col("event_type"),
            dayofweek(col("ts").cast("date")).cast("string"))),
        group = col("season"), value = col("value"),
        idCols = Seq("event_id"))
        .select(col("event_id"), col("g").as("season"), col("value")),
      // the anomaly_zscore decimal arithmetic with a composite
      // (event_type, day-of-week) season key
      """WITH x AS (SELECT event_id,
               event_type || '|'
                 || CAST(dayofweek(CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1
                         AS VARCHAR) AS season,
               value, CAST(round(value * 100) AS BIGINT) AS xc
             FROM events),
         st AS (SELECT season, count(*) AS n,
                  sum(CAST(xc AS HUGEINT)) AS s,
                  sum(CAST(xc AS HUGEINT) * CAST(xc AS HUGEINT)) AS ss
                FROM x GROUP BY 1)
         SELECT event_id, x.season, value
         FROM x JOIN st USING (season)
         WHERE (CAST(n AS HUGEINT) * xc - s) * (CAST(n AS HUGEINT) * xc - s) * 4 >
               (CAST(n AS HUGEINT) * ss - s * s) * 9"""),

    // Mann-Whitney U location test over ks_drift's even/odd-day
    // populations — 2U from the bounded per-value count table, the
    // tie-corrected z^2 decision cross-multiplied into DECIMAL(38,0)
    QueryDef("mann_whitney", (s, dir) =>
      Profile.mannWhitney(Tables.events(s, dir),
        side = Profile.evenOddDaySide(col("ts")),
        value = col("value")),
      // ks_drift's count table, then 2U via the below-count window and
      // the tie-corrected z^2 decision in HUGEINT
      """WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS x,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 2 AS INT) AS side
             FROM events WHERE value IS NOT NULL),
         g AS (SELECT x,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
             FROM b GROUP BY 1),
         c AS (SELECT x, ca, cb,
               coalesce(sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS cbb
             FROM g),
         a AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb,
               CAST(coalesce(sum(ca * (2 * cbb + cb)), 0) AS BIGINT) AS u2,
               CAST(coalesce(sum(CAST(ca + cb AS HUGEINT) * (ca + cb)
                   * (ca + cb) - (ca + cb)), 0) AS HUGEINT) AS ties
             FROM c)
         SELECT na AS n_a, nb AS n_b, u2 AS u2_a,
           CASE WHEN na > 0 AND nb > 0 THEN
             CAST(u2 - na * nb AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
           ELSE 0.0 END AS r_rb,
           CAST(1875 AS HUGEINT) * (u2 - na * nb) * (u2 - na * nb)
               * (na + nb) * (na + nb - 1) >
             CAST(2401 AS HUGEINT) * na * nb *
               (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb)
                 - (na + nb) - ties) AS reject
         FROM a"""),

    // ROUGE-2 clipped-bigram F1 over adjacent-id document pairs
    // (even doc_id = candidate, odd = reference)
    QueryDef("rouge2_eval", (s, dir) =>
      graft.ops.Eval.rougeN(Tables.documents(s, dir), n = 2),
      // same positional pairing, clipped-count overlap, single division
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents),
         g AS (SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
               array_to_string(ws[i+1:i+2], ' ') AS gram
             FROM w, UNNEST(range(len(ws) - 1)) AS t(i)
             WHERE len(ws) >= 2),
         cnt AS (SELECT pair_id, gram,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cc,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cr
             FROM g GROUP BY 1, 2),
         p AS (SELECT pair_id, CAST(sum(cc) AS BIGINT) AS n_cand,
               CAST(sum(cr) AS BIGINT) AS n_ref,
               CAST(sum(least(cc, cr)) AS BIGINT) AS overlap
             FROM cnt GROUP BY 1)
         SELECT pair_id, n_cand, n_ref, overlap,
           (2.0 * CAST(overlap AS DOUBLE))
             / CAST(n_cand + n_ref AS DOUBLE) AS rouge_f1
         FROM p WHERE n_cand > 0 AND n_ref > 0"""),

    // one-scan all-column DQ profile of orders (money normalized to
    // cents so min/max strings render identically across engines)
    QueryDef("column_profile", (s, dir) =>
      Profile.columnProfile(Tables.orders(s, dir), Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_totalprice_cents" ->
          round(col("o_totalprice") * lit(100)).cast("long"),
        "o_orderdate" -> col("o_orderdate").cast("date"),
        "o_orderpriority" -> col("o_orderpriority"))),
      // one UNION ALL branch per column; money pre-normalized to cents
      """SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
         UNION ALL
         SELECT 'o_custkey', count(*),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR),
           CAST(max(o_custkey) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR),
           CAST(max(o_orderstatus) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_totalprice_cents', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT),
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR),
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
         FROM orders
         UNION ALL
         SELECT 'o_orderdate', count(*),
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT),
           CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR),
           CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR) FROM orders"""),

    // market-basket association: part-pair co-occurrence within orders,
    // support-thresholded, with PMI (ln rounded 1e-6, entropy convention)
    QueryDef("cooccur_pmi", (s, dir) =>
      Assoc.cooccurPmi(Tables.lineitem(s, dir),
        basket = col("l_orderkey"), item = col("l_partkey"),
        minSupport = 2),
      // same distinct-(basket, item) projection, pair expansion, support
      // threshold, and 1e-6-rounded ln
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                        FROM lineitem),
         nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
         ic AS (SELECT i, count(*) AS n_i FROM items GROUP BY 1),
         p AS (SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_ab
               FROM items l JOIN items r ON l.b = r.b AND l.i < r.i
               GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT item_a, item_b, n_ab, ca.n_i AS n_a, cb.n_i AS n_b,
           round(ln(CAST(n_ab AS DOUBLE) * n_baskets
             / (CAST(ca.n_i AS DOUBLE) * cb.n_i)), 6) AS pmi
         FROM p JOIN ic ca ON item_a = ca.i JOIN ic cb ON item_b = cb.i
         CROSS JOIN nb"""),

    // robust outliers: > 3 MADs from the event-type median (exact-cents
    // medians are dyadic rationals — bit-portable, no rounding)
    QueryDef("mad_outliers", (s, dir) =>
      Profile.madOutliers(eventsBase(s, dir), group = col("event_type"),
        value = col("value"), idCols = Seq("event_id"))
        .select(col("event_id"), col("g").as("event_type"), col("value"),
          col("med"), col("mad")),
      // same exact-cents medians (dyadic rationals — no rounding needed)
      // and 3-MAD flag
      """WITH r AS (SELECT event_id, event_type AS g, value,
               CAST(round(value * 100) AS BIGINT) AS xc FROM events),
         med AS (SELECT g, quantile_cont(xc, 0.5) AS med FROM r GROUP BY 1),
         dev AS (SELECT r.*, med, abs(CAST(xc AS DOUBLE) - med) AS absdev
                 FROM r JOIN med USING (g)),
         mad AS (SELECT g, quantile_cont(absdev, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT event_id, g AS event_type, value, med, mad
         FROM dev JOIN mad USING (g)
         WHERE absdev > 3 * mad"""),

    // the approx_percentile swap for unbounded-cardinality metrics:
    // output is the per-group GK rank-bound contract (true for ANY
    // conforming sketch), since DuckDB cannot replay Spark's sketch
    QueryDef("mad_outliers_approx", (s, dir) =>
      Profile.madOutliersApproxContract(eventsBase(s, dir),
        group = col("event_type"), value = col("value"))
        .select(col("g").as("event_type"), col("n"),
          col("med_in_bound"), col("mad_in_bound")),
      // the GK guarantee makes both bounds provably TRUE for any
      // conforming sketch — the oracle predicts the contract, not the
      // (engine-specific) sketch values
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           TRUE AS med_in_bound, TRUE AS mad_in_bound
         FROM events GROUP BY 1""")
  )

  // ---- oracle SQL (DuckDB) ------------------------------------------

  private val sketchQuantilesOracle =
    """WITH b AS (SELECT l_returnflag AS g,
             l_orderkey * 8 + l_linenumber AS id,
             (l_orderkey * 8 + l_linenumber) * 1000003 % 1000000007 AS h,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem),
         s AS (SELECT g, id, c,
             row_number() OVER (PARTITION BY g ORDER BY h ASC, id ASC) AS rk
           FROM b),
         t AS (SELECT g, id, c,
             CAST(row_number() OVER (PARTITION BY g ORDER BY c ASC, id ASC)
               AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM s WHERE rk <= 256)
       SELECT g AS l_returnflag, max(n) AS sample_n,
         CAST(min(CASE WHEN i * 4 >= n THEN c END) AS DOUBLE) / 100.0 AS p25,
         CAST(min(CASE WHEN i * 2 >= n THEN c END) AS DOUBLE) / 100.0 AS p50,
         CAST(min(CASE WHEN i * 4 >= n * 3 THEN c END) AS DOUBLE) / 100.0
           AS p75,
         CAST(min(CASE WHEN i * 20 >= n * 19 THEN c END) AS DOUBLE) / 100.0
           AS p95
       FROM t GROUP BY g"""
}
