package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import Fixtures._

/** Time-ordered queries: sessionization, as-of joins, event windows,
  * cohorts, funnels, survival and forecasting.
  */
object TemporalQueries {

  // ---- queries another query reuses (initialized before defs) -----

  // gaps-and-islands sessionization (30-min gap)
  val sessionize: QueryDef =
    QueryDef("sessionize", (s, dir) =>
      Temporal.sessionize(eventsBase(s, dir),
        col("user_id"), col("ts"), gapSeconds = 1800L),
      // gap computed on floor(epoch) to mirror Spark's ts.cast(long) truncation
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT)
                           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END AS new_session
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
         y AS (SELECT user_id, ts,
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM x)
         SELECT user_id AS key, session_id,
                min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events
         FROM y GROUP BY user_id, session_id""")

  // backward as-of join: each purchase ← user's most recent prior view
  val asofJoin: QueryDef =
    QueryDef("asof_join", (s, dir) =>
      Temporal.asofPrior(eventsBase(s, dir),
        key = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        leftPred = col("event_type") === "view",
        rightPred = col("event_type") === "purchase"),
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         x AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS asof_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS asof_ts
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT key, id, ts, asof_id, asof_ts FROM x WHERE event_type = 'purchase'""")

  val defs: Seq[QueryDef] = Seq(
    // RFM quartile segmentation over a total order (metric, custkey)
    QueryDef("rfm_segments", (s, dir) =>
      Temporal.rfmSegments(Tables.orders(s, dir)),
      // ntile over total orders (metric, custkey): identical integer bucket
      // arithmetic in both engines; monetary through DECIMAL then one
      // double conversion
      """WITH pc AS (SELECT o_custkey,
               max(CAST(o_orderdate AS DATE)) AS last_day,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS monetary
             FROM orders GROUP BY 1),
           r AS (SELECT o_custkey, frequency, monetary,
                   date_diff('day', last_day, max(last_day) OVER ())
                     AS recency_days
                 FROM pc),
           sc AS (SELECT o_custkey, recency_days, frequency, monetary,
                    ntile(4) OVER (ORDER BY recency_days DESC, o_custkey)
                      AS r_score,
                    ntile(4) OVER (ORDER BY frequency ASC, o_custkey)
                      AS f_score,
                    ntile(4) OVER (ORDER BY monetary ASC, o_custkey)
                      AS m_score
                  FROM r)
         SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
         FROM sc"""),

    // frequent 3-step behavioral paths over the totally-ordered stream
    QueryDef("sequence_ngrams", (s, dir) =>
      Temporal.sequenceNgrams(Tables.events(s, dir), user = col("user_id"),
        ts = col("ts"), id = col("event_id"), step = col("event_type")),
      // two lags over the (ts, id) total order; support threshold keeps
      // the head
      """WITH s AS (SELECT user_id AS u, event_type AS s,
               lag(event_type, 2) OVER w AS s1,
               lag(event_type, 1) OVER w AS s2
             FROM events
             WINDOW w AS (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id))
         SELECT s1 || '>' || s2 || '>' || s AS path, count(*) AS n,
           count(DISTINCT u) AS n_users
         FROM s WHERE s1 IS NOT NULL GROUP BY 1 HAVING count(*) >= 5"""),

    // observation/outcome-window churn labels from the feed's own clock
    QueryDef("churn_label", (s, dir) =>
      Temporal.churnLabel(Tables.events(s, dir), user = col("user_id"),
        ts = col("ts")),
      // windows pinned to the feed's own max day; exact distinct-day counts
      """WITH d AS (SELECT user_id AS u, CAST(ts AS DATE) AS day FROM events),
           m AS (SELECT max(day) AS max_day FROM d),
           f AS (SELECT u, day, max_day FROM d, m WHERE day >= max_day - 13),
           a AS (SELECT u,
                   count(DISTINCT CASE WHEN day <= max_day - 7 THEN day END)
                     AS days_w1,
                   count(DISTINCT CASE WHEN day > max_day - 7 THEN day END)
                     AS days_w2
                 FROM f GROUP BY 1)
         SELECT u AS user_id, days_w1, days_w2,
           CASE WHEN days_w2 = 0 THEN 1 ELSE 0 END AS churned
         FROM a WHERE days_w1 > 0"""),

    // duration-weighted mean of piecewise-constant per-user values
    QueryDef("time_weighted_avg", (s, dir) =>
      Temporal.timeWeightedAvg(Tables.events(s, dir), key = col("user_id"),
        ts = col("ts"), id = col("event_id"), value = col("value")),
      // whole-second durations: floor(b) - floor(a) counts the same
      // boundaries as date_diff('second') for fractional timestamps
      """WITH x AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts,
               event_id AS id,
               CAST(round(value * 100) AS BIGINT) AS c FROM events),
           h AS (SELECT u, c, date_diff('second', ts,
                   lead(ts) OVER (PARTITION BY u ORDER BY ts, id)) AS dur
                 FROM x),
           f AS (SELECT u, c, dur FROM h WHERE dur IS NOT NULL)
         SELECT u AS key, count(*) AS n_holds,
           CAST(sum(dur) AS BIGINT) AS total_seconds,
           CASE WHEN sum(dur) = 0 THEN NULL
                ELSE CAST(sum(dur * c) AS DOUBLE)
                   / CAST(sum(dur) AS BIGINT) / 100.0 END AS twap
         FROM f GROUP BY 1"""),

    // exact scaled-integer trend/seasonal/residual split of daily totals
    QueryDef("seasonal_decompose", (s, dir) =>
      Temporal.seasonalDecompose(Tables.events(s, dir),
        group = col("event_type"), ts = col("ts"), value = col("value")),
      // units of cents/700 keep every component integer until one final
      // division; weekday = epoch-day mod 7 (no engine dow convention)
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
             FROM events GROUP BY 1, 2),
           t AS (SELECT g, day, c,
                   CAST(sum(c) OVER (PARTITION BY g ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                     AS t7,
                   row_number() OVER (PARTITION BY g ORDER BY day) AS rn,
                   count(*) OVER (PARTITION BY g) AS n_part
                 FROM daily),
           i AS (SELECT g, day, c, t7, 7 * c - t7 AS r7,
                   date_diff('day', DATE '1970-01-01', day) % 7 AS wd
                 FROM t WHERE rn >= 4 AND rn <= n_part - 3),
           s AS (SELECT g, wd, count(*) AS n_wd,
                   CAST(sum(r7) AS BIGINT) AS s_r7
                 FROM i GROUP BY 1, 2)
         SELECT i.g, i.day,
           CAST(c AS DOUBLE) / 100.0 AS value,
           CAST(t7 AS DOUBLE) / 700.0 AS trend,
           CAST(s_r7 AS DOUBLE) / (n_wd * 700) AS seasonal,
           CAST(r7 AS DOUBLE) / 700.0
             - CAST(s_r7 AS DOUBLE) / (n_wd * 700) AS residual
         FROM i JOIN s ON i.g = s.g AND i.wd = s.wd"""),

    // ACF of the daily order-revenue series at lags 1..7
    QueryDef("acf_lags", (s, dir) =>
      Temporal.acfLags(Tables.orders(s, dir), ts = col("o_orderdate"),
        metric = col("o_totalprice"), maxLag = 7),
      // exact integer ACF: n^2 clears the rational mean; HUGEINT moments
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
             FROM orders GROUP BY 1),
           s AS (SELECT row_number() OVER (ORDER BY day) AS idx,
                   CAST(x AS HUGEINT) AS x FROM daily),
           tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS s,
                     sum(x * x) AS sxx FROM s),
           h AS (SELECT t.k, a.idx + t.k AS j, a.x AS xh
                 FROM s a, range(1, 8) t(k)),
           p AS (SELECT h.k, h.xh, b.x AS xt FROM h JOIN s b ON h.j = b.idx),
           l AS (SELECT k, CAST(count(*) AS HUGEINT) AS np,
                   sum(xh * xt) AS sxy, sum(xh) AS sh, sum(xt) AS st
                 FROM p GROUP BY 1)
         SELECT CAST(k AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
           round(CAST(n * n * sxy - n * s * (sh + st) + np * s * s AS DOUBLE)
             / CAST(n * n * sxx - n * s * s AS DOUBLE), 6) AS acf
         FROM l, tot ORDER BY lag"""),

    // weekly cohort retention matrix over events
    QueryDef("retention_cohorts", (s, dir) =>
      Temporal.retentionCohorts(Tables.events(s, dir),
        user = col("user_id"), ts = col("ts")),
      """WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                    FROM events),
           c AS (SELECT user_id,
                   CAST(date_trunc('week', min(day)) AS DATE) AS cohort_week
                 FROM e GROUP BY 1)
         SELECT cohort_week,
           CAST(floor(date_diff('day', cohort_week, day) / 7) AS INT) AS week_offset,
           count(DISTINCT e.user_id) AS n_users, count(*) AS n_events
         FROM e JOIN c USING (user_id) GROUP BY 1, 2"""),

    // Kaplan-Meier survival curve over user activity lifetimes —
    // right-censored at the 12h silence horizon; ordered prefix-fold S
    QueryDef("kaplan_meier", (s, dir) =>
      Temporal.kaplanMeier(eventsBase(s, dir),
        entity = col("user_id"), ts = col("ts")),
      // same integer-micros lifetimes, window cumsum at-risk counts, and
      // ordered prefix-fold survival product (list_reduce == aggregate)
      """WITH e AS (SELECT user_id AS u,
               epoch_us(CAST(ts AS TIMESTAMP)) AS m FROM events),
         us AS (SELECT u, min(m) AS f, max(m) AS l FROM e GROUP BY 1),
         mx AS (SELECT max(l) AS mt FROM us),
         lab AS (SELECT (l - f) // 3600000000 AS t,
                 l < mt - 43200000000 AS died FROM us CROSS JOIN mx),
         tot AS (SELECT count(*) AS n_tot FROM lab),
         byt AS (SELECT t,
               CAST(sum(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d,
               count(*) AS ended
             FROM lab GROUP BY 1),
         risk AS (SELECT t, d,
             (SELECT n_tot FROM tot) - coalesce(CAST(sum(ended) OVER
               (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING) AS BIGINT), 0) AS n
           FROM byt),
         ev AS (SELECT t, n, d FROM risk WHERE d > 0),
         arr AS (SELECT list(struct_pack(t := t, n := n, d := d)
                 ORDER BY t) AS a FROM ev)
         SELECT CAST(a[i+1].t AS BIGINT) AS t,
           CAST(a[i+1].n AS BIGINT) AS n_risk,
           CAST(a[i+1].d AS BIGINT) AS n_events,
           round(list_reduce(list_prepend(1.0,
             list_transform(a[1:i+1],
               y -> (CAST(y.n AS DOUBLE) - y.d) / y.n)),
             (p, q) -> p * q), 6) AS survival
         FROM arr, UNNEST(range(len(a))) AS s(i)"""),

    // behavioral Markov transitions: event-type bigram counts + P(next|prev)
    QueryDef("event_transitions", (s, dir) =>
      Temporal.eventTransitions(Tables.events(s, dir),
        user = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        typeCol = col("event_type")),
      """WITH t AS (SELECT event_type AS next_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_type
             FROM events),
           g AS (SELECT prev_type, next_type, count(*) AS n FROM t
                 WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
         FROM g"""),

    // Holt level+trend smoothing of each event type's daily volume:
    // dyadic α=β=1/2 fold is bit-reproducible; the oracle replays the
    // identical recurrence as a per-group recursive CTE
    QueryDef("holt_forecast", (s, dir) =>
      Temporal.holtForecast(eventsBase(s, dir), group = col("event_type"),
        ts = col("ts"))
        .select(col("g").as("event_type"), col("n_days"), col("level"),
          col("trend"), col("forecast")),
      // the identical Holt recurrence replayed as a per-group recursive
      // CTE: same init (l1=x1, b1=x2-x1), same association order inside
      // every fold step, dyadic halvings exact — bit-identical doubles
      """WITH RECURSIVE
         d0 AS (SELECT event_type AS g,
                  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                  CAST(count(*) AS DOUBLE) AS x
                FROM events GROUP BY 1, 2),
         d AS (SELECT g, x,
                 CAST(row_number() OVER (PARTITION BY g ORDER BY day)
                   AS BIGINT) AS t,
                 CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_days
               FROM d0),
         r AS (
           SELECT d1.g, CAST(1 AS BIGINT) AS t,
                  d1.x AS l, coalesce(d2.x - d1.x, 0.0) AS b, d1.n_days
           FROM d d1 LEFT JOIN d d2 ON d2.g = d1.g AND d2.t = 2
           WHERE d1.t = 1
           UNION ALL
           SELECT d.g, r.t + 1,
                  0.5 * d.x + 0.5 * (r.l + r.b),
                  0.5 * ((0.5 * d.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
                  r.n_days
           FROM r JOIN d ON d.g = r.g AND d.t = r.t + 1)
         SELECT g AS event_type, n_days, l AS level, b AS trend,
                l + 7.0 * b AS forecast
         FROM r WHERE t = n_days"""),

    // first-touch channel attribution: conversion revenue credited to
    // each user's acquisition event type, exact-cents money
    QueryDef("attribution_first", (s, dir) =>
      Temporal.attributionFirstTouch(eventsBase(s, dir),
        user = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        channel = col("event_type"), value = col("value")),
      // same first-event window, same exact-cents revenue sum cast to
      // double once at the end
      """WITH e AS (SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         f AS (SELECT user_id, event_type AS first_channel
               FROM (SELECT user_id, event_type, row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
                     FROM e)
               WHERE rn = 1),
         p AS (SELECT user_id,
                 sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                   AS cents,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
               FROM e GROUP BY 1)
         SELECT first_channel, count(*) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converters,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue
         FROM f JOIN p USING (user_id) GROUP BY 1"""),

    // cohort LTV curve: cumulative exact-cents revenue per first-seen
    // week cohort, divided by cohort size only at the end
    QueryDef("cohort_ltv", (s, dir) =>
      Temporal.cohortLtv(eventsBase(s, dir), user = col("user_id"),
        ts = col("ts"), channel = col("event_type"), value = col("value")),
      // same cohort grid as retention_cohorts; money = exact cents until
      // the two final divisions; windowed sums cast off HUGEINT
      """WITH b AS (SELECT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               event_type AS ch, value AS v FROM events),
         c AS (SELECT u, CAST(date_trunc('week', min(day)) AS DATE) AS cohort_week
               FROM b GROUP BY 1),
         sz AS (SELECT cohort_week, count(*) AS cohort_users FROM c GROUP BY 1),
         cell AS (SELECT c.cohort_week,
                 CAST(floor(date_diff('day', c.cohort_week, b.day) / 7) AS INT)
                   AS week_offset,
                 count(DISTINCT b.u) AS n_active,
                 sum(CASE WHEN ch = 'purchase'
                     THEN CAST(round(v * 100) AS BIGINT) ELSE 0 END) AS cents
               FROM b JOIN c ON b.u = c.u GROUP BY 1, 2),
         cum AS (SELECT *, CAST(sum(cents) OVER (PARTITION BY cohort_week
                   ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cum_cents FROM cell)
         SELECT cohort_week, week_offset, sz.cohort_users, n_active,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
           CAST(cum_cents AS DOUBLE) / 100.0 / sz.cohort_users AS ltv
         FROM cum JOIN sz USING (cohort_week)"""),

    // peak concurrent sessions per day (sweep line over session bounds)
    QueryDef("concurrency_profile", (s, dir) =>
      Temporal.concurrencyProfile(
        Temporal.sessionize(eventsBase(s, dir), col("user_id"), col("ts"),
          gapSeconds = 1800L)),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
           x AS (SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS new_session
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
           y AS (SELECT user_id, ts,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                 FROM x),
           s AS (SELECT user_id AS key, session_id,
                   min(ts) AS session_start, max(ts) AS session_end
                 FROM y GROUP BY user_id, session_id),
           b AS (SELECT key, CAST(session_start AS DATE) AS day,
                   UNNEST([struct_pack(t := session_start, delta := 1),
                           struct_pack(t := CASE WHEN session_end = session_start
                                  THEN session_start + INTERVAL 1 SECOND
                                  ELSE session_end END, delta := -1)],
                          recursive := true)
                 FROM s),
           r AS (SELECT day,
                   CAST(sum(delta) OVER (PARTITION BY day
                     ORDER BY t ASC, delta ASC, key ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
                 FROM b)
         SELECT day, max(running) AS max_concurrent,
           CAST(count(*) / 2 AS BIGINT) AS n_sessions
         FROM r GROUP BY day"""),

    // engagement rollup: session count / active seconds / longest session
    QueryDef("user_active_time", (s, dir) =>
      Temporal.userActiveTime(
        Temporal.sessionize(eventsBase(s, dir), col("user_id"), col("ts"),
          gapSeconds = 1800L)),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
           x AS (SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR CAST(floor(epoch(ts)) AS BIGINT)
                             - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS new_session
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
           y AS (SELECT user_id, ts,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                 FROM x),
           s AS (SELECT user_id AS key, session_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS st,
                   CAST(floor(epoch(max(ts))) AS BIGINT) AS en
                 FROM y GROUP BY user_id, session_id)
         SELECT key, count(*) AS n_sessions,
           CAST(sum(en - st) AS BIGINT) AS active_seconds,
           CAST(max(en - st) AS BIGINT) AS longest_session_seconds
         FROM s GROUP BY key"""),

    // daily active users with day-over-day delta
    QueryDef("daily_active", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day").asc)
      Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count_distinct(col("user_id")).as("dau"),
          count(lit(1)).as("n_events"))
        .withColumn("dau_delta", col("dau") - lag(col("dau"), 1).over(w))
    },
      """SELECT day, dau, n_events, dau - lag(dau, 1) OVER (ORDER BY day ASC) AS dau_delta
         FROM (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 count(DISTINCT user_id) AS dau, count(*) AS n_events
               FROM events GROUP BY 1)"""),

    // event-level session attribution: each event tagged with its session
    // id and seconds since the session started (same gap rule as
    // sessionize, kept at event granularity instead of rolled up)
    QueryDef("session_relative", (s, dir) => {
      val byTs = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc)
      val cum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val gap = col("ts").cast("long") - lag(col("ts"), 1).over(byTs).cast("long")
      val perSession = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("session_id"))
      eventsBase(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("new_session",
          when(gap.isNull || (gap > 1800L), 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .withColumn("sec_into_session",
          col("ts").cast("long") - min(col("ts").cast("long")).over(perSession))
        .select(col("event_id"), col("user_id"), col("session_id"),
          col("sec_into_session"))
    },
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT event_id, user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT)
                           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                      THEN 1 ELSE 0 END AS new_session
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
         y AS (SELECT event_id, user_id, ts,
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM x)
         SELECT event_id, user_id, session_id,
           CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(min(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id, session_id) AS BIGINT) AS sec_into_session
         FROM y"""),

    sessionize,

    // Spark's built-in session_window operator (microsecond-precision gap
    // merge, window end = last ts + gap) — the native alternative to the
    // hand-rolled gaps-and-islands above
    QueryDef("sessionize_native", (s, dir) =>
      eventsBase(s, dir)
        .groupBy(col("user_id").as("key"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("key"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events")),
      // session merge on exact microseconds (diff >= gap starts a session);
      // session_end = last ts + gap per Spark's window-end semantics
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         x AS (SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS new_session
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
         y AS (SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM x)
         SELECT user_id AS key,
                min(ts) AS session_start,
                max(ts) + INTERVAL 1800 SECOND AS session_end,
                count(*) AS n_events
         FROM y GROUP BY user_id, sid"""),

    asofJoin,

    // the same as-of semantics through the custom Catalyst operator
    // (LogicalPlan + Strategy + merge-join SparkPlan, SURVEY §4.3(c));
    // must produce bit-identical output to the window-based asof_join
    QueryDef("asof_join_native", (s, dir) => {
      val e = eventsBase(s, dir)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.plans.AsOf.asofJoin(side("view"), side("purchase"), "key", "ts", "id")
        .select(col("key"), col("id"), col("ts"),
          col("l_id").as("asof_id"), col("l_ts").as("asof_ts"))
    },
      // the custom-plan as-of join must match the window-based one exactly
      asofJoin.oracle),

    // forward as-of through the same custom operator (negated-time trick):
    // each purchase gains the NEXT view at/after it
    QueryDef("asof_join_forward", (s, dir) => {
      val e = eventsBase(s, dir)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      graft.plans.AsOf.asofJoinForward(side("view"), side("purchase"), "key", "ts", "id")
        .select(col("key"), col("id"), col("ts"),
          col("l_id").as("next_id"), col("l_ts").as("next_ts"))
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         x AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS next_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS next_ts
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT key, id, ts, next_id, next_ts FROM x WHERE event_type = 'purchase'"""),

    // band/range join via time-bucketing (same-user event pairs <= 60s apart)
    QueryDef("range_join", (s, dir) =>
      Temporal.rangeJoinPairs(eventsBase(s, dir),
        key = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        windowSeconds = 60L),
      // floor(epoch) mirrors Spark's ts.cast(long) truncation
      """SELECT a.user_id AS key, a.event_id AS id_a, b.event_id AS id_b,
           CAST(floor(epoch(CAST(b.ts AS TIMESTAMP))) AS BIGINT)
             - CAST(floor(epoch(CAST(a.ts AS TIMESTAMP))) AS BIGINT) AS dt_sec
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
         WHERE abs(CAST(floor(epoch(CAST(a.ts AS TIMESTAMP))) AS BIGINT)
                   - CAST(floor(epoch(CAST(b.ts AS TIMESTAMP))) AS BIGINT)) <= 60"""),

    // typed grouped-map (flatMapGroups): per-user min-max normalization
    QueryDef("grouped_map", (s, dir) =>
      Temporal.groupedMinMaxNormalize(Tables.events(s, dir)),
      """SELECT event_id, user_id,
           CASE WHEN maxv = minv THEN 0.0
                ELSE (value - minv) / (maxv - minv) END AS norm_value
         FROM (SELECT event_id, user_id, value,
                 min(value) OVER (PARTITION BY user_id) AS minv,
                 max(value) OVER (PARTITION BY user_id) AS maxv
               FROM events)"""),

    // dense calendar report: generated date dimension LEFT JOIN events —
    // days with zero events still appear (the reporting-table shape)
    QueryDef("calendar_counts", (s, dir) => {
      val cal = s.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-01-01")),
        lit(java.sql.Date.valueOf("2024-02-10")),
        expr("interval 1 day"))).as("day"))
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      cal.join(daily, Seq("day"), "left_outer")
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
          dayofweek(col("day")).as("dow"))
    },
      """WITH cal AS (SELECT CAST(unnest(generate_series(
             DATE '2024-01-01', DATE '2024-02-10', INTERVAL 1 DAY)) AS DATE) AS day),
         daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
                   FROM events GROUP BY 1)
         SELECT cal.day, CAST(coalesce(daily.n, 0) AS BIGINT) AS n,
           CAST(dayofweek(cal.day) + 1 AS INT) AS dow
         FROM cal LEFT JOIN daily ON cal.day = daily.day"""),

    // RANGE window frame: per-user trailing-1-hour event count and exact
    // value sum, anchored on event-time micros
    QueryDef("window_range_frame", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      eventsBase(s, dir).select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("sum_trailing_1h"))
    },
      """SELECT event_id, user_id,
           count(*) OVER w AS n_trailing_1h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
         FROM (SELECT event_id, user_id, value,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""),

    // per-user ordered journey: first 10 event types in (ts, id) order
    QueryDef("user_journeys", (s, dir) =>
      eventsBase(s, dir)
        .groupBy(col("user_id"))
        .agg(array_join(
          slice(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            s => s.getField("event_type")), 1, 10), ">").as("journey"),
          count(lit(1)).as("n_events")),
      """SELECT user_id,
           array_to_string(
             (list(event_type ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC))[1:10],
             '>') AS journey,
           count(*) AS n_events
         FROM events GROUP BY user_id"""),

    // funnel analysis: users whose FIRST view precedes their first click
    // precedes their first purchase — one row per funnel prefix
    QueryDef("events_funnel", (s, dir) => {
      val firsts = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      firsts.agg(
        count(when(col("t_view").isNotNull, 1)).as("step1_view"),
        count(when(col("t_view") <= col("t_click"), 1)).as("step2_view_click"),
        count(when(col("t_view") <= col("t_click") &&
          col("t_click") <= col("t_buy"), 1)).as("step3_view_click_buy"))
    },
      """WITH firsts AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_buy
           FROM events GROUP BY user_id)
         SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS step1_view,
                count(CASE WHEN t_view <= t_click THEN 1 END) AS step2_view_click,
                count(CASE WHEN t_view <= t_click AND t_click <= t_buy THEN 1 END)
                  AS step3_view_click_buy
         FROM firsts"""),

    // nearest-in-time as-of: compose the backward and forward custom-plan
    // joins and keep whichever view is closer (tie → the prior one)
    QueryDef("asof_join_nearest", (s, dir) => {
      val e = eventsBase(s, dir)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"), col("event_id").as("id"))
      val back = graft.plans.AsOf.asofJoin(side("view"), side("purchase"),
        "key", "ts", "id")
        .select(col("key"), col("id"), col("ts"),
          col("l_id").as("prev_id"), col("l_ts").as("prev_ts"))
      val fwd = graft.plans.AsOf.asofJoinForward(side("view"), side("purchase"),
        "key", "ts", "id")
        .select(col("id"), col("l_id").as("next_id"), col("l_ts").as("next_ts"))
      val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
      val dNext = unix_micros(col("next_ts")) - unix_micros(col("ts"))
      back.join(fwd, "id")
        .select(col("key"), col("id"), col("ts"),
          when(col("prev_ts").isNull && col("next_ts").isNull, lit(null))
            .when(col("next_ts").isNull, col("prev_id"))
            .when(col("prev_ts").isNull, col("next_id"))
            .when(dPrev <= dNext, col("prev_id"))
            .otherwise(col("next_id")).as("nearest_id"))
    },
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         b AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER wb AS prev_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER wb AS prev_ts
               FROM e WINDOW wb AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         f AS (SELECT event_id AS id,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER wf AS next_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER wf AS next_ts
               FROM e WINDOW wf AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT b.key, b.id, b.ts,
           CASE WHEN b.prev_ts IS NULL AND f.next_ts IS NULL THEN NULL
                WHEN f.next_ts IS NULL THEN b.prev_id
                WHEN b.prev_ts IS NULL THEN f.next_id
                WHEN epoch_us(b.ts) - epoch_us(b.prev_ts)
                     <= epoch_us(f.next_ts) - epoch_us(b.ts)
                THEN b.prev_id ELSE f.next_id END AS nearest_id
         FROM b JOIN f ON b.id = f.id
         WHERE b.event_type = 'purchase'"""),

    // per-user EWMA of the value stream (α=0.5 dyadic — exact halvings
    // keep the fold bit-portable)
    QueryDef("ewma_smooth", (s, dir) =>
      Temporal.ewmaSmooth(eventsBase(s, dir), entity = col("user_id"),
        ts = col("ts"), idCol = col("event_id"), value = col("value"))
        .select(col("entity").as("user_id"), col("n_events"),
          col("last_value"), col("ewma")),
      // same (ts, id)-ordered fold; DuckDB list_reduce seeds with the
      // first element, matching the Spark side's seed-x1 recurrence
      """WITH o AS (SELECT user_id,
               list(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS vs,
               count(*) AS n_events
             FROM events GROUP BY 1)
         SELECT user_id, n_events, vs[-1] AS last_value,
           list_reduce(vs, (s, x) -> s * 0.5 + x * 0.5) AS ewma
         FROM o"""),

    // windowed funnel: view -> click within 24h -> purchase within 24h
    // of the click; earliest-completion attribution per user
    QueryDef("funnel_windowed", (s, dir) =>
      Temporal.funnelWindowed(eventsBase(s, dir), user = col("user_id"),
        ts = col("ts"), typeCol = col("event_type"),
        steps = ("view", "click", "purchase"), windowSec = 86400L),
      // same anchored first-eligible-event chain and 24h interval bounds
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events),
         a1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY 1),
         a2 AS (SELECT e.user_id, min(ts) AS t2
                FROM e JOIN a1 ON e.user_id = a1.user_id
                WHERE event_type = 'click' AND ts >= t1
                  AND ts <= t1 + INTERVAL 86400 SECOND
                GROUP BY 1),
         a3 AS (SELECT e.user_id, min(ts) AS t3
                FROM e JOIN a2 ON e.user_id = a2.user_id
                WHERE event_type = 'purchase' AND ts >= t2
                  AND ts <= t2 + INTERVAL 86400 SECOND
                GROUP BY 1)
         SELECT a1.user_id, t1, t2, t3,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS INT)
             AS reached_step
         FROM a1 LEFT JOIN a2 ON a1.user_id = a2.user_id
         LEFT JOIN a3 ON a1.user_id = a3.user_id"""),

    // per-user daily resample onto the corpus calendar: gap days get
    // n=0, the day's closing value forward-fills across gaps
    QueryDef("ts_gapfill", (s, dir) =>
      Temporal.tsGapfill(eventsBase(s, dir), entity = col("user_id"),
        ts = col("ts"), idCol = col("event_id"), value = col("value"))
        .select(col("entity").as("user_id"), col("day"), col("n"),
          col("close_ffill")),
      // same corpus-span calendar, day-close argmax ((ts, id) tiebreak),
      // and forward-fill window
      """WITH ev AS (SELECT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value,
               row_number() OVER (
                 PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
             FROM events),
         daily AS (SELECT user_id, day, count(*) AS n,
               max(CASE WHEN rn = 1 THEN value END) AS close
             FROM ev GROUP BY 1, 2),
         cal AS (SELECT CAST(unnest(generate_series(
               (SELECT min(day) FROM daily), (SELECT max(day) FROM daily),
               INTERVAL 1 DAY)) AS DATE) AS day),
         grid AS (SELECT user_id, day
                  FROM (SELECT DISTINCT user_id FROM daily) CROSS JOIN cal)
         SELECT grid.user_id, grid.day,
           CAST(coalesce(daily.n, 0) AS BIGINT) AS n,
           last_value(daily.close IGNORE NULLS) OVER (
             PARTITION BY grid.user_id ORDER BY grid.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill
         FROM grid LEFT JOIN daily
           ON grid.user_id = daily.user_id AND grid.day = daily.day"""),

    // as-of with freshness tolerance: matches older than 1h are nulled
    QueryDef("asof_join_tolerance", (s, dir) =>
      Temporal.asofPriorTolerance(eventsBase(s, dir),
        key = col("user_id"), ts = col("ts"), idCol = col("event_id"),
        leftPred = col("event_type") === "view",
        rightPred = col("event_type") === "purchase",
        maxAgeSeconds = 3600L),
      // the asof_join oracle plus a staleness guard on the matched ts
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_type IN ('view', 'purchase')),
         x AS (SELECT user_id AS key, event_id AS id, ts, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER w AS asof_id,
                 last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                   OVER w AS asof_ts
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t AS (SELECT key, id, ts, asof_id, asof_ts,
                 asof_ts IS NOT NULL AND
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(asof_ts)) AS BIGINT) <= 3600 AS fresh
               FROM x WHERE event_type = 'purchase')
         SELECT key, id, ts,
           CASE WHEN fresh THEN asof_id END AS asof_id,
           CASE WHEN fresh THEN asof_ts END AS asof_ts
         FROM t"""),

    // hopping (sliding) windows: 1h length / 15m slide — every event
    // lands in exactly 4 overlapping windows (the tumbling ops' sibling
    // semantic; same watermark story in streaming)
    QueryDef("hopping_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n")),
      // each event belongs to windows starting at bucket(15m) - j*15m for
      // j in 0..3 (window length 1h, slide 15m)
      """SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               - j * INTERVAL '15 minutes' AS window_start,
           event_type, count(*) AS n
         FROM events, UNNEST(range(4)) AS t(j)
         GROUP BY 1, 2""")
  )
}
