package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Fixtures._

/** Data-quality rules, reports and integrity checks, and the
  * privacy audits (k-anonymity, l-diversity, t-closeness, erasure).
  */
object QualityQueries {

  val defs: Seq[QueryDef] = Seq(
    // constraint suggestion from ONE profiling scan: the observed
    // envelope becomes a DqRule catalog that rulesReport can enforce
    // as-is (and which passes on the profiled feed by construction)
    QueryDef("dq_suggest", (s, dir) =>
      Quality.dqSuggest(Tables.events(s, dir),
        numericCols = Seq("value"),
        keyCols = Seq("event_id", "user_id")),
      // the observed envelope replayed from one aggregate row
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
           CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_eid,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_uid,
           min(CAST(round(value * 100) AS BIGINT)) AS min_v,
           max(CAST(round(value * 100) AS BIGINT)) AS max_v,
           CAST(count(DISTINCT event_id) AS BIGINT) AS nd_eid,
           CAST(count(DISTINCT user_id) AS BIGINT) AS nd_uid
         FROM events)
         SELECT 'value_not_null' AS rule, 'value' AS "column",
           'not_null' AS kind, CAST(NULL AS DOUBLE) AS bound,
           null_value AS tolerance, TRUE AS suggested, n_rows FROM a
         UNION ALL SELECT 'event_id_not_null', 'event_id', 'not_null',
           CAST(NULL AS DOUBLE), null_eid, TRUE, n_rows FROM a
         UNION ALL SELECT 'user_id_not_null', 'user_id', 'not_null',
           CAST(NULL AS DOUBLE), null_uid, TRUE, n_rows FROM a
         UNION ALL SELECT 'value_min', 'value', 'min',
           CAST(min_v AS DOUBLE) / 100.0, CAST(0 AS BIGINT), TRUE, n_rows FROM a
         UNION ALL SELECT 'value_max', 'value', 'max',
           CAST(max_v AS DOUBLE) / 100.0, CAST(0 AS BIGINT), TRUE, n_rows FROM a
         UNION ALL SELECT 'value_positive', 'value', 'positive',
           CAST(NULL AS DOUBLE), CAST(0 AS BIGINT),
           coalesce(min_v > 0, FALSE), n_rows FROM a
         UNION ALL SELECT 'event_id_unique', 'event_id', 'unique',
           CAST(NULL AS DOUBLE), n_rows - null_eid - nd_eid,
           nd_eid = n_rows - null_eid, n_rows FROM a
         UNION ALL SELECT 'user_id_unique', 'user_id', 'unique',
           CAST(NULL AS DOUBLE), n_rows - null_uid - nd_uid,
           nd_uid = n_rows - null_uid, n_rows FROM a"""),

    // t-closeness: ordered-EMD of class value dist vs corpus dist
    QueryDef("t_closeness", (s, dir) =>
      Scrub.tCloseness(Tables.events(s, dir),
        quasi = Seq(col("event_type"), col("ts").cast("date").as("day")),
        sensitive = col("value"), bucketCents = 5000L, t = 0.2),
      // ordered-EMD per class: exact |cumC*N - cumG*n| numerators summed
      // in HUGEINT over the classes x bucket-domain grid, one division
      """WITH x AS (SELECT event_type,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(round(value * 100) AS BIGINT) // 5000 AS b FROM events),
           g AS (SELECT b, count(*) AS g FROM x GROUP BY 1),
           gw AS (SELECT b, CAST(sum(g) OVER (ORDER BY b ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_g
                  FROM g),
           tot AS (SELECT CAST(count(*) AS HUGEINT) AS nn,
                     CAST(count(DISTINCT b) AS HUGEINT) AS m FROM x),
           cls AS (SELECT event_type, day, count(*) AS n FROM x GROUP BY 1, 2),
           cc AS (SELECT event_type, day, b, count(*) AS c
                  FROM x GROUP BY 1, 2, 3),
           grid AS (SELECT cls.event_type, cls.day, cls.n, gw.b, gw.cum_g,
                      CAST(COALESCE(cc.c, 0) AS HUGEINT) AS c0
                    FROM cls CROSS JOIN gw
                    LEFT JOIN cc ON cc.event_type = cls.event_type
                      AND cc.day = cls.day AND cc.b = gw.b),
           w AS (SELECT event_type, day, n, cum_g,
                   CAST(sum(c0) OVER (PARTITION BY event_type, day ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS HUGEINT) AS cum_c FROM grid),
           e AS (SELECT event_type, day, n,
                   sum(abs(cum_c * (SELECT nn FROM tot)
                     - cum_g * CAST(n AS HUGEINT))) AS num
                 FROM w GROUP BY 1, 2, 3)
         SELECT event_type, day, n,
           CASE WHEN (SELECT m FROM tot) > 1
             THEN round(CAST(num AS DOUBLE) / CAST(CAST(n AS HUGEINT)
               * (SELECT nn FROM tot) * ((SELECT m FROM tot) - 1)
               AS DOUBLE), 6)
             ELSE 0.0 END AS emd,
           (CASE WHEN (SELECT m FROM tot) > 1
             THEN round(CAST(num AS DOUBLE) / CAST(CAST(n AS HUGEINT)
               * (SELECT nn FROM tot) * ((SELECT m FROM tot) - 1)
               AS DOUBLE), 6)
             ELSE 0.0 END) > 0.2 AS violates
         FROM e"""),

    // Cohen's kappa between the char-length and word-count raters
    QueryDef("rater_agreement", (s, dir) =>
      Quality.raterAgreement(Tables.documents(s, dir),
        raterA = col("n_chars") >= 300,
        raterB = size(split(col("text"), " ")) >= 60),
      // integer kappa form: one division of exact products per column
      """WITH x AS (SELECT
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
               CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 ELSE 0
                 END AS b
             FROM documents),
           m AS (SELECT
               CAST(sum(a * b) AS BIGINT) AS n11,
               CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
               CAST(sum((1 - a) * b) AS BIGINT) AS n01,
               CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
             FROM x),
           t AS (SELECT n11, n10, n01, n00,
               n11 + n10 + n01 + n00 AS n,
               n11 + n00 AS agree,
               (n11 + n10) * (n11 + n01)
                 + (n00 + n01) * (n00 + n10) AS margins
             FROM m)
         SELECT n11, n10, n01, n00,
           round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           round(CAST(margins AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
           CASE WHEN n * n = margins THEN NULL
                ELSE round(CAST(n * agree - margins AS DOUBLE)
                       / CAST(n * n - margins AS DOUBLE), 6) END AS kappa
         FROM t"""),

    // l-diversity: k-anonymous classes can still leak a shared secret
    QueryDef("l_diversity", (s, dir) =>
      Scrub.lDiversity(Tables.events(s, dir),
        quasi = Seq(col("event_type"), col("ts").cast("date").as("day")),
        sensitive = col("user_id"), l = 45),
      // distinct sensitive values per quasi-identifier class
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS l_div
         FROM events GROUP BY 1, 2
         HAVING count(DISTINCT user_id) < 45"""),

    // feed-freshness audit: staleness per event_type behind the freshest
    QueryDef("dq_freshness", (s, dir) =>
      Quality.freshness(Tables.events(s, dir),
        key = col("event_type"), ts = col("ts"))
        .select(col("key").as("event_type"), col("n"), col("max_ts"),
          col("lag_seconds")),
      """WITH g AS (SELECT event_type, count(*) AS n,
               max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events GROUP BY 1),
           t AS (SELECT max(max_ts) AS gm FROM g)
         SELECT event_type, n, max_ts,
           CAST(floor(epoch(gm)) AS BIGINT)
             - CAST(floor(epoch(max_ts)) AS BIGINT) AS lag_seconds
         FROM g, t"""),

    // Q1-Q5: all DQ checks in one scan (data_pipeline.py:91-124)
    QueryDef("dq_report", (s, dir) =>
      Quality.dqReport(Tables.orders(s, dir),
        Quality.DqContract(
          requiredCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
          keys = Seq("o_orderkey"))),
      """WITH s AS (SELECT count(*) AS cnt,
                    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
                    count(DISTINCT o_orderkey) AS distinct_keys
             FROM orders)
         SELECT 'empty_input' AS check_name, cnt AS metric, cnt > 0 AS passed FROM s
         UNION ALL SELECT 'required_columns', CAST(0 AS BIGINT), true FROM s
         UNION ALL SELECT 'null_keys', null_keys, null_keys = 0 FROM s
         UNION ALL SELECT 'duplicate_keys', cnt - distinct_keys, cnt - distinct_keys = 0 FROM s
         UNION ALL SELECT 'low_volume', cnt, cnt >= 5 FROM s"""),

    // row-level DQ quarantine: single scan annotates every row with the
    // first violated rule (badness injected deterministically); in
    // production the reason != 'ok' slice routes to a quarantine sink
    QueryDef("dq_quarantine", (s, dir) => {
      val base = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_id") % 10 === 0, lit(null))
          .otherwise(col("user_id")).as("user_id"),
        when(col("event_id") % 13 === 0, lit("mystery"))
          .otherwise(col("event_type")).as("event_type"),
        col("value"))
      val types = Seq("click", "error", "purchase", "signup", "view")
      base
        .withColumn("reason",
          when(col("user_id").isNull, "null_key")
            .when(!col("event_type").isin(types: _*), "bad_type")
            .otherwise("ok"))
        .withColumn("quarantined", col("reason") =!= "ok")
    },
      """SELECT event_id,
           CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS user_id,
           CASE WHEN event_id % 13 = 0 THEN 'mystery' ELSE event_type END AS event_type,
           value,
           CASE WHEN event_id % 10 = 0 THEN 'null_key'
                WHEN event_id % 13 = 0 THEN 'bad_type'
                ELSE 'ok' END AS reason,
           (event_id % 10 = 0) OR (event_id % 13 = 0) AS quarantined
         FROM events"""),

    // config-driven DQ: a rule catalog evaluated in ONE scan
    QueryDef("dq_rules", (s, dir) =>
      Quality.rulesReport(eventsBase(s, dir), Seq(
        Quality.DqRule("value_not_null", "value", "not_null"),
        Quality.DqRule("value_nonneg", "value", "min", 0.0),
        Quality.DqRule("value_cap_300", "value", "max", 300.0,
          maxViolations = 100),
        Quality.DqRule("user_positive", "user_id", "positive"))),
      // same single-scan conditional counts and tolerances
      """WITH w AS (SELECT count(*) AS n_rows,
             sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS v1,
             sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS v2,
             sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS v3,
             sum(CASE WHEN user_id <= 0 THEN 1 ELSE 0 END) AS v4
           FROM events)
         SELECT rule, n_rows, n_violations, (n_violations <= tol) AS passed
         FROM (
           SELECT 'value_not_null' AS rule, n_rows,
             CAST(v1 AS BIGINT) AS n_violations, 0 AS tol FROM w
           UNION ALL SELECT 'value_nonneg', n_rows,
             CAST(v2 AS BIGINT), 0 FROM w
           UNION ALL SELECT 'value_cap_300', n_rows,
             CAST(v3 AS BIGINT), 100 FROM w
           UNION ALL SELECT 'user_positive', n_rows,
             CAST(v4 AS BIGINT), 0 FROM w)"""),

    // right-to-erasure propagation audit across three tables
    QueryDef("gdpr_delete_audit", (s, dir) => {
      val forget = Tables.customer(s, dir)
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("forget_id"))
      Scrub.gdprDeleteAudit(Seq(
        ("events", Tables.events(s, dir), col("user_id")),
        ("orders", Tables.orders(s, dir), col("o_custkey")),
        ("customer", Tables.customer(s, dir), col("c_custkey"))), forget)
    },
      """WITH f AS (SELECT c_custkey AS fid FROM customer WHERE c_custkey % 97 = 0)
         SELECT 'events' AS table_name,
           CAST(sum(CASE WHEN user_id IN (SELECT fid FROM f) THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           CAST(sum(CASE WHEN user_id IN (SELECT fid FROM f) THEN 0 ELSE 1 END) AS BIGINT) AS n_remaining
         FROM events
         UNION ALL
         SELECT 'orders',
           CAST(sum(CASE WHEN o_custkey IN (SELECT fid FROM f) THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IN (SELECT fid FROM f) THEN 0 ELSE 1 END) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'customer',
           CAST(sum(CASE WHEN c_custkey IN (SELECT fid FROM f) THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN c_custkey IN (SELECT fid FROM f) THEN 0 ELSE 1 END) AS BIGINT)
         FROM customer"""),

    // k-anonymity audit: event cells (type, day, value-bucket) whose
    // equivalence class is smaller than k=5 — the re-identification
    // risk report of a privacy release gate
    QueryDef("k_anonymity", (s, dir) =>
      Scrub.kAnonymity(Tables.events(s, dir), Seq(
        col("event_type"),
        col("ts").cast("date").as("day"),
        floor(col("value") / 50).cast("long").as("vbucket")), k = 5),
      // same quasi-identifier cells, HAVING < k
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(floor(value / 50) AS BIGINT) AS vbucket,
           count(*) AS n, count(*) AS at_risk
         FROM events GROUP BY 1, 2, 3 HAVING count(*) < 5"""),

    // referential-integrity audit over the star schema's FK edges
    QueryDef("ref_integrity", (s, dir) =>
      Quality.refIntegrity(Seq(
        ("lineitem->orders", Tables.lineitem(s, dir), col("l_orderkey"),
          Tables.orders(s, dir), col("o_orderkey")),
        ("orders->customer", Tables.orders(s, dir), col("o_custkey"),
          Tables.customer(s, dir), col("c_custkey")),
        ("events->customer", Tables.events(s, dir), col("user_id"),
          Tables.customer(s, dir), col("c_custkey")))),
      // NOT EXISTS, not NOT IN: NOT IN's NULL semantics diverge from the
      // Spark op's left-anti join (a NULL fk is an orphan to the anti-join
      // but silently dropped by NOT IN, and one NULL parent key would make
      // NOT IN report zero orphans for the whole edge)
      """SELECT 'lineitem->orders' AS relationship,
           CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS n_orphan_rows,
           count(*) AS n_orphan_keys
         FROM (SELECT l_orderkey AS fk, count(*) AS n_rows FROM lineitem GROUP BY 1)
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = fk)
         UNION ALL
         SELECT 'orders->customer',
           CAST(coalesce(sum(n_rows), 0) AS BIGINT), count(*)
         FROM (SELECT o_custkey AS fk, count(*) AS n_rows FROM orders GROUP BY 1)
         WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = fk)
         UNION ALL
         SELECT 'events->customer',
           CAST(coalesce(sum(n_rows), 0) AS BIGINT), count(*)
         FROM (SELECT user_id AS fk, count(*) AS n_rows FROM events GROUP BY 1)
         WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = fk)""")
  )
}
