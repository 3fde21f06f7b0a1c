package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import Fixtures._

/** Structured Streaming queries; each converges to a batch result
  * its oracle states.
  */
object StreamingQueries {

  val defs: Seq[QueryDef] = Seq(
    // per-key counts merged live in foreachBatch == batch heavy hitters
    QueryDef("streaming_heavy_hitters", (s, dir) =>
      graft.streaming.Streaming.streamingHeavyHitters(s,
        eventsBase(s, dir), tmp(dir, "stream_events5")),
      // trigger-slicing-invariant count merges == the batch recompute
      """SELECT user_id AS key, count(*) AS n,
           CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
         FROM events GROUP BY user_id
         ORDER BY n DESC, key ASC LIMIT 10"""),

    // bottom-k quantile sketch maintained live: per-batch samples
    // KMV-merged into <= k rows/group state == the batch sketch
    QueryDef("streaming_sketch_quantiles", (s, dir) =>
      graft.streaming.Streaming.streamingSketchQuantiles(s,
        eventsBase(s, dir), tmp(dir, "stream_events5")),
      // live KMV maintenance must equal the batch sketch (merge identity)
      // the events-feed instance of the same KMV sketch recurrence: the
      // streaming maintenance loop must land exactly this state
      """WITH b AS (SELECT event_type AS g, event_id AS id,
             event_id * 1000003 % 1000000007 AS h,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         s AS (SELECT g, id, c,
             row_number() OVER (PARTITION BY g ORDER BY h ASC, id ASC) AS rk
           FROM b),
         t AS (SELECT g, id, c,
             CAST(row_number() OVER (PARTITION BY g ORDER BY c ASC, id ASC)
               AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
           FROM s WHERE rk <= 256)
       SELECT g AS event_type, max(n) AS sample_n,
         CAST(min(CASE WHEN i * 4 >= n THEN c END) AS DOUBLE) / 100.0 AS p25,
         CAST(min(CASE WHEN i * 2 >= n THEN c END) AS DOUBLE) / 100.0 AS p50,
         CAST(min(CASE WHEN i * 4 >= n * 3 THEN c END) AS DOUBLE) / 100.0
           AS p75,
         CAST(min(CASE WHEN i * 20 >= n * 19 THEN c END) AS DOUBLE) / 100.0
           AS p95
       FROM t GROUP BY g"""),

    // the SAME front door as a STREAMING ingest (the
    // streaming_curation_events convention): the stateless repair + C4
    // stages run per micro-batch into a parquet staging sink — the
    // projection is the same webStage12 function value the batch op
    // composes — and the closed-feed readout runs the literal batch
    // verdict tail, so the ledger hash-equals web_pipeline by
    // construction (same oracle)
    QueryDef("streaming_web_pipeline", (s, dir) =>
      graft.streaming.Streaming.streamingWebPipeline(s, webStaged(s, dir),
        tmp(dir, "stream_web")).drop("text_clean"),
      // the streamed staging + batch verdict tail must land the batch
      // front door's ledger exactly (the streaming_curation_events
      // oracle-reuse convention)
      Text.webLedgerSql(webStagedRel)),

    // [EXT round 15] the STREAMING face of web_pipeline_near (the
    // streaming_web_pipeline convention): micro-batches run the
    // stateless repair + C4 stage into the staging sink, the
    // closed-feed readout runs the literal batch verdict + near tails
    // — hash-equal to batch web_pipeline_near by construction (same
    // oracle), kill/restart-proven in StreamingRestartSpec
    QueryDef("streaming_web_pipeline_near", (s, dir) =>
      graft.streaming.Streaming.streamingWebPipelineNear(s,
        webNearStaged(s, dir), tmp(dir, "stream_web_near")),
      Text.webNearSql(webNearStagedRel)),

    // §2.9: tumbling-window streaming counts (file-backed readStream)
    QueryDef("streaming_window", (s, dir) =>
      graft.streaming.Streaming.windowedCounts(s, Tables.events(s, dir),
        tmp(dir, "stream_events5")),
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2"""),

    // §2.9: stream-static enrichment against a broadcast dimension
    QueryDef("streaming_enrich", (s, dir) =>
      graft.streaming.Streaming.streamingEnrich(s, Tables.events(s, dir),
        Tables.customer(s, dir).select(col("c_custkey").as("user_id"),
          col("c_name"), col("c_mktsegment")),
        tmp(dir, "stream_events5")),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           c_name, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey"""),

    // §2.9: stateless streaming DQ monitor — batch-trained baseline
    // stats broadcast against the live feed, exact-decimal flag
    QueryDef("streaming_anomaly", (s, dir) =>
      graft.streaming.Streaming.streamingAnomaly(s, Tables.orders(s, dir),
        tmp(dir, "stream_anomaly_src"))
        .select(col("o_orderkey"), col("g").as("o_orderpriority"),
          col("value").as("o_totalprice")),
      // the streaming monitor flags exactly the batch anomaly set
      StatsQueries.anomalyZscore.oracle),

    // §2.9: append-mode watermarked windows (only finalized windows emit)
    QueryDef("streaming_window_append", (s, dir) =>
      graft.streaming.Streaming.windowedCountsAppend(s, Tables.events(s, dir),
        tmp(dir, "stream_append_src")),
      // append mode emits a window only once the watermark (max event time
      // - 1h) passes its end: window_start + 2h <= max(ts)
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS n
         FROM events GROUP BY 1, 2
         HAVING window_start + INTERVAL 2 HOUR <=
           (SELECT max(CAST(ts AS TIMESTAMP)) FROM events)"""),

    // §2.9: streaming exact dedup of a re-ingested feed (keyed state)
    QueryDef("streaming_dedup", (s, dir) =>
      graft.streaming.Streaming.streamingDedup(s, eventsBase(s, dir),
        tmp(dir, "stream_dedup_src")),
      // streaming dedup of the doubled feed == the feed itself
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
         FROM events"""),

    // §2.9: BOUNDED-STATE exact dedup — dropDuplicatesWithinWatermark
    // under an explicit lateness contract (state evicts past the
    // watermark; delay wider than the closed feed ⇒ equals DISTINCT)
    QueryDef("streaming_dedup_watermark", (s, dir) =>
      graft.streaming.Streaming.streamingDedupWatermark(s, eventsBase(s, dir),
        tmp(dir, "stream_dedup_wm_src")),
      // bounded-state sibling: delay wider than the closed feed's span ⇒
      // no late rows, no mid-run eviction ⇒ also exactly the feed
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
         FROM events"""),

    // the materialized view maintained LIVE (foreachBatch accumulate;
    // decomposable aggs make the result trigger-slicing-independent)
    QueryDef("streaming_agg_maintain", (s, dir) =>
      graft.streaming.Streaming.streamingAggMaintain(s, eventsBase(s, dir),
        eventKeys, tmp(dir, "stream_events5"))
        .select(col("user_id"), col("event_type"), col("n"),
          col("s").cast("double").as("sum_value"), col("mn"), col("mx")),
      // same invariant as the batch op: the live view == full recompute,
      // however the triggers sliced the feed
      """SELECT user_id, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
           min(value) AS mn, max(value) AS mx
         FROM events GROUP BY 1, 2"""),

    // CDC replication LIVE: tombstone-retaining latest-wins state per
    // micro-batch — slicing-independent, equals the batch cdc_apply
    // collapse of the full log (its oracle verifies the stream)
    QueryDef("streaming_cdc_apply", (s, dir) => {
      val log = eventsBase(s, dir).withColumn("op",
        when(col("event_id") % 10 === 0, "D")
          .when(col("event_id") % 10 < 4, "I").otherwise("U"))
      graft.streaming.Streaming.streamingCdcApply(s, log, eventKeys,
        tmp(dir, "stream_cdc_src"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
    },
      // the streamed tombstone-retaining state filtered of deletes equals
      // the batch latest-wins collapse of the FULL changelog (associative
      // + idempotent max-version merge), so cdc_apply's oracle verifies it
      """WITH log AS (SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN event_id % 10 = 0 THEN 'D'
                    WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op
             FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn FROM log)
         SELECT user_id, event_type, event_id, ts, value
         FROM r WHERE rn = 1 AND op <> 'D'"""),

    // daily-distinct HLL registers maintained live in foreachBatch:
    // trigger-slicing-independent by max-merge associativity, final
    // estimates equal the batch recompute bit-for-bit
    QueryDef("streaming_hll", (s, dir) =>
      graft.streaming.Streaming.streamingHllMaintain(s, eventsBase(s, dir),
        tmp(dir, "stream_events5")),
      // the maintained register table == batch recompute (max-merge is
      // associative): same per-day register pipeline, no window
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
         e AS (SELECT day, count(*) AS n_regs,
                 sum(power(CAST(2 AS DOUBLE), -M)) AS z_used FROM r GROUP BY 1),
         f AS (SELECT day, n_regs,
                 z_used + CAST(64 - n_regs AS DOUBLE) AS z,
                 64 - n_regs AS v FROM e)
         SELECT day,
             CASE WHEN CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z <= 160 AND v > 0
                  THEN round(CAST(64 AS DOUBLE)
                    * ln(CAST(64 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
                  ELSE round(CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE)
                    * CAST(64 AS DOUBLE) / z, 6) END AS hll_estimate
         FROM f"""),

    // the LLM ingest tick LIVE: streamed docs probe the maintained
    // corpus MinHash index (stream-static joins, stateless verify)
    QueryDef("streaming_near_dup", (s, dir) =>
      graft.streaming.Streaming.streamingNearDup(s,
        Tables.documents(s, dir), tmp(dir, "stream_neardup_src")),
      // the STREAMING ingest tick has the same exact ground truth as the
      // batch one: corpus x batch near-dup pairs, any trigger slicing
      crossSideNearDupOracle),

    // DSIR tables maintained live (256-row state, the smallest
    // possible); final scores == the batch dsir_affinity (same oracle)
    QueryDef("streaming_dsir", (s, dir) =>
      graft.streaming.Streaming.streamingDsir(s,
        Tables.documents(s, dir), tmp(dir, "stream_dsir_src")),
      // live count-table maintenance must land the batch DSIR scores
      TextQueries.dsirAffinity.oracle),

    // train-offline / score-online: frozen probe weights + cutoff score
    // the doc stream as a pure STATELESS projection (no state store);
    // closed-feed readout == batch quality_probe (same oracle)
    QueryDef("streaming_quality_score", (s, dir) =>
      graft.streaming.Streaming.streamingQualityScore(s,
        Tables.documents(s, dir), tmp(dir, "stream_qscore_src")),
      // the frozen-model streaming scorer must land the batch probe rows
      TextQueries.qualityProbe.oracle),

    // live KS drift monitor: per-cents pair counts sum-merged per
    // micro-batch (state bounded by the metric domain, not the feed);
    // closed-feed readout IS the batch ks_drift statistic stage
    QueryDef("streaming_ks_drift", (s, dir) =>
      graft.streaming.Streaming.streamingKsDrift(s,
        eventsBase(s, dir), tmp(dir, "stream_ks_src")),
      // the maintained pair-count table must land the batch KS statistic
      StatsQueries.ksDrift.oracle),

    // live split-conformal monitor: the (group, cents) side-count state
    // is bounded by the metric's discrete domain; closed-feed readout
    // runs the literal batch statistic stage — same oracle as batch
    QueryDef("streaming_conformal", (s, dir) =>
      graft.streaming.Streaming.streamingConformal(s,
        eventsBase(s, dir), tmp(dir, "stream_ks_src"))
        .select(col("g").as("event_type"), col("n_cal"), col("n_test"),
          col("med_cents"), col("qhat_cents"), col("n_covered"),
          col("coverage"), col("nominal")),
      // the maintained side-count table must land the batch q-hat/coverage
      StatsQueries.conformalThreshold.oracle),

    // incremental upsert as a stream: foreachBatch latest-wins merge;
    // final snapshot == batch window_latest over all events
    QueryDef("streaming_upsert", (s, dir) =>
      graft.streaming.Streaming.streamingUpsert(s, eventsBase(s, dir), eventKeys,
        tmp(dir, "stream_events5")),
      // the streaming foreachBatch upsert converges to latest-wins over all
      // events — same ground truth as window_latest, minus the props column
      s"""WITH base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                        event_type, value FROM events)
          SELECT * FROM base
          QUALIFY $latestWin = 1"""),

    // stateful streaming sessionization (flatMapGroupsWithState);
    // final state == batch gaps-and-islands sessionize
    QueryDef("streaming_sessionize", (s, dir) =>
      graft.streaming.Streaming.statefulSessionize(s, eventsBase(s, dir),
        gapSeconds = 1800L, tmp(dir, "stream_events5")),
      // stateful streaming sessionize converges to the batch result
      TemporalQueries.sessionize.oracle),

    // §2.9: stream-stream interval join (views ⋈ purchases within 1h)
    QueryDef("streaming_join", (s, dir) =>
      graft.streaming.Streaming.streamStreamJoin(s, Tables.events(s, dir),
        windowSec = 3600L, tmp(dir, "stream_join_src")),
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
          AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR"""),

    // §2.9: LEFT OUTER stream-stream join — null rows require real
    // watermark eviction (delay ≪ feed span; time-ordered file replay)
    QueryDef("streaming_join_outer", (s, dir) =>
      graft.streaming.Streaming.streamStreamJoinOuter(s, Tables.events(s, dir),
        windowSec = 600L, delaySec = 3600L, tmp(dir, "stream_join_outer_src")),
      // append-mode outer-join semantics, reproduced: matched pairs emit on
      // arrival; a null row emits iff the FINAL watermark
      // (min of both streams' max ts − delay) closed the view's window
      """WITH v AS (SELECT user_id, event_id AS view_id,
               CAST(ts AS TIMESTAMP) AS view_ts
             FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id AS pu, event_id AS purchase_id,
               CAST(ts AS TIMESTAMP) AS purchase_ts
             FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(view_ts) FROM v),
                  (SELECT max(purchase_ts) FROM p))
                  - INTERVAL 3600 SECONDS AS w),
         m AS (SELECT v.user_id, view_id, view_ts, purchase_id, purchase_ts
               FROM v JOIN p ON v.user_id = pu
                AND purchase_ts >= view_ts
                AND purchase_ts <= view_ts + INTERVAL 600 SECONDS),
         um AS (SELECT v.user_id, view_id, view_ts,
                  CAST(NULL AS BIGINT) AS purchase_id,
                  CAST(NULL AS TIMESTAMP) AS purchase_ts
                FROM v
                WHERE NOT EXISTS (SELECT 1 FROM p WHERE pu = v.user_id
                    AND purchase_ts >= view_ts
                    AND purchase_ts <= view_ts + INTERVAL 600 SECONDS)
                  AND view_ts + INTERVAL 600 SECONDS < (SELECT w FROM wm))
         SELECT * FROM m UNION ALL SELECT * FROM um"""),

    // the SAME front door as a STREAMING ingest: raw event rows (JSON
    // props and all) stream from the feed, every micro-batch runs the
    // SHARED flatten+render+normalize+hash projection (stateless \u2014 no
    // state store) into a parquet staging sink, and the closed-feed
    // readout runs the literal batch verdict tail over the staged
    // corpus \u2014 hash-equal to curation_pipeline_events by construction
    // (same oracle). The render function object is the same value the
    // batch registration uses; the verdict tail is the same method \u2014
    // batch and stream cannot drift.
    QueryDef("streaming_curation_events", (s, dir) =>
      graft.streaming.Streaming.streamingCurationEvents(s,
        rawEventsSlice(s, dir), eventsCurationDocs,
        tmp(dir, "stream_curation")),
      // the streamed staging table + batch verdict tail must land the
      // batch front door's verdict rows exactly
      DedupQueries.curationPipelineEvents.oracle)
  )
}
