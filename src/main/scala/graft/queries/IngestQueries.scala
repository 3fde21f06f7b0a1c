package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import Fixtures._

/** The reference pipeline's own steps: paginated sources, sinks,
  * flattening, metadata, latest-wins dedup, MERGE upserts, CDC, SCD2 and
  * the pipeline runner.
  */
object IngestQueries {

  // ---- queries another query reuses (initialized before defs) -----

  // M2 = D2 ∘ M1: MERGE with window-deduped source (data_pipeline.py:177-206)
  val mergeUpsertLatest: QueryDef =
    QueryDef("merge_upsert_latest", (s, dir) => {
      val e = eventsBase(s, dir)
      val target = Dedup.dedupLatest(e.filter(col("event_id") % 2 === 0),
        eventKeys, col("ts"), Seq(col("event_id")))
      val source = e.filter(col("event_id") % 2 === 1)
      Merge.mergeUpsertLatest(target, source, eventKeys,
        col("ts"), Seq(col("event_id")))
    },
      s"""WITH base AS ($evBase),
          tgt AS (SELECT * FROM base WHERE event_id % 2 = 0 QUALIFY $latestWin = 1),
          src AS (SELECT * FROM base WHERE event_id % 2 = 1 QUALIFY $latestWin = 1)
          SELECT * FROM src
          UNION ALL
          SELECT * FROM tgt
          WHERE NOT EXISTS (SELECT 1 FROM src
                            WHERE src.user_id = tgt.user_id
                              AND src.event_type = tgt.event_type)""")

  val defs: Seq[QueryDef] = Seq(
    // small-file compaction round-trip (lossless; file counts spec-checked)
    QueryDef("sink_compacted", (s, dir) =>
      graft.sources.Sinks.compactRoundTrip(
        eventsBase(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value")),
        tmp(dir, "compact"), smallFiles = 64, targetFiles = 4),
      """SELECT event_id, user_id, event_type, value FROM events"""),

    // P1: json_normalize(sep="_") analog (data_pipeline.py:74)
    QueryDef("flatten_json", (s, dir) =>
      Flatten.flattenJsonColumn(
        Tables.events(s, dir), "props",
        new StructType().add("k", LongType)),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
         FROM events"""),

    // D2/W1: latest-wins window dedup (data_pipeline.py:180-187)
    QueryDef("window_latest", (s, dir) =>
      Dedup.dedupLatest(eventsBase(s, dir), eventKeys,
        col("ts"), Seq(col("event_id"))),
      s"""WITH base AS ($evBase)
          SELECT * FROM base QUALIFY $latestWin = 1"""),

    // D1: keep-first exact dedup on key subset (data_pipeline.py:84-85)
    QueryDef("dedup_exact", (s, dir) =>
      // tiebreak columns form a total order (synthetic lineitem has
      // duplicate (l_orderkey, l_linenumber) pairs)
      Dedup.dedupExact(Tables.lineitem(s, dir), Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"))),
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
         FROM lineitem
         QUALIFY row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber ASC, l_partkey ASC, l_suppkey ASC, l_extendedprice ASC) = 1"""),

    // M1: MERGE upsert (data_pipeline.py:159-175); staging = modified
    // subset of orders, target = disjoint-ish subset.
    QueryDef("merge_upsert", (s, dir) => {
      val o = Tables.orders(s, dir)
      val target = o.filter(col("o_orderkey") % 2 === 0)
      val source = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      Merge.mergeUpsert(target, source, Seq("o_orderkey"))
    },
      """WITH tgt AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 0),
         src AS (
           SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice,
                  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT * FROM src
         UNION ALL
         SELECT * FROM tgt
         WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = tgt.o_orderkey)"""),

    // the third MERGE clause family: WHEN NOT MATCHED BY SOURCE THEN
    // DELETE — full-feed mirror sync with a tagged change audit
    // (insert/update/delete); NULL keys never match (SQL semantics)
    QueryDef("merge_full_sync", (s, dir) => {
      val o = Tables.orders(s, dir)
      val target = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val source = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("S").as("o_orderstatus"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
      Merge.mergeFullSync(target, source, Seq("o_orderkey"))
    },
      // full outer on the key; action from side presence
      """WITH tgt AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0),
         src AS (
           SELECT o_orderkey, 'S' AS o_orderstatus,
                  o_totalprice + 1.0 AS o_totalprice
           FROM orders WHERE o_orderkey % 3 = 0)
         SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NULL THEN 'delete'
                WHEN t.o_orderkey IS NULL THEN 'insert'
                ELSE 'update' END AS action
         FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey"""),

    mergeUpsertLatest,

    // P4: type normalization with coerce→NULL (data_pipeline.py:131-136)
    QueryDef("normalize_types", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          when(col("event_id") % 10 === 0, lit("not-a-date"))
            .otherwise(date_format(col("ts"), "yyyy-MM-dd")).as("visit_date_raw"),
          col("user_id"), col("ts"))
        .select(col("event_id"),
          Meta.coerceDate(col("visit_date_raw")).as("visit_date"),
          Meta.coerceString(col("user_id")).as("visit_id"),
          col("ts").as("load_ts")),
      """SELECT event_id,
           TRY_CAST(CASE WHEN event_id % 10 = 0 THEN 'not-a-date'
                         ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') END AS DATE) AS visit_date,
           CAST(user_id AS VARCHAR) AS visit_id,
           CAST(ts AS TIMESTAMP) AS load_ts
         FROM events"""),

    // P3: residual complex cells → JSON strings (data_pipeline.py:20-23)
    QueryDef("sanitize_complex", (s, dir) =>
      Meta.sanitizeComplex(
        Tables.events(s, dir).select(col("event_id"),
          array(col("user_id"), col("event_id")).as("ids"),
          struct(col("event_type").as("t"), col("user_id").as("u")).as("meta"))),
      """SELECT event_id,
           CAST(to_json([user_id, event_id]) AS VARCHAR) AS ids,
           CAST(to_json(struct_pack(t := event_type, u := user_id)) AS VARCHAR) AS meta
         FROM events"""),

    // P2: lineage metadata columns (data_pipeline.py:79-81); clock pinned
    // for oracle verifiability (SURVEY §7.3).
    QueryDef("add_metadata", (s, dir) =>
      Meta.addMetadata(
        Tables.events(s, dir).select("event_id", "event_type"),
        clock = to_timestamp(lit("2026-01-01 00:00:00")),
        sourceFile = lit("events.parquet")),
      """SELECT event_id, event_type,
           TIMESTAMP '2026-01-01 00:00:00' AS load_timestamp,
           'events.parquet' AS source_file
         FROM events"""),

    // S1: paginated REST source against a file-backed mock endpoint
    QueryDef("source_paginated", (s, dir) => {
      val pages = tmp(dir, "pages")
      graft.sources.Paginated.writeMockPages(s, dir, pages)
      graft.sources.Paginated.fetchAll(s, pages)
    },
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id < 500"""),

    // S1 at scale: same page store through the DataSource V2 connector —
    // one InputPartition per page, parsing off the driver
    QueryDef("source_paginated_v2", (s, dir) => {
      val pages = tmp(dir, "pages")
      graft.sources.Paginated.writeMockPages(s, dir, pages)
      s.read.format("graft.sources.v2.PagedJsonSource")
        .option("path", pages).load()
    },
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id < 500"""),

    // S2: raw-zone JSON sink, hive-partitioned by ingest date (round-trip)
    QueryDef("sink_raw_partitioned", (s, dir) =>
      graft.sources.Sinks.rawPartitionedSink(Tables.events(s, dir),
        tmp(dir, "raw")),
      """SELECT event_id, user_id, event_type, value,
           CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS year,
           CAST(month(CAST(ts AS TIMESTAMP)) AS INT) AS month,
           CAST(day(CAST(ts AS TIMESTAMP)) AS INT) AS day
         FROM events"""),

    // S3: staging overwrite sink, one truncate-reload write (round-trip)
    QueryDef("sink_staging_overwrite", (s, dir) =>
      graft.sources.Sinks.stagingOverwrite(Tables.orders(s, dir),
        tmp(dir, "staging")),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
         FROM orders"""),

    // ORC format round-trip (column types carry exactly)
    QueryDef("sink_orc_roundtrip", (s, dir) =>
      graft.sources.Sinks.orcRoundTrip(Tables.orders(s, dir), tmp(dir, "orc")),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
         FROM orders"""),

    // CSV format round-trip with explicit schema + µs timestamp format
    QueryDef("sink_csv_roundtrip", (s, dir) =>
      graft.sources.Sinks.csvRoundTrip(Tables.orders(s, dir), tmp(dir, "csv")),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
         FROM orders"""),

    // S4: append-only audit sink with ARRAY<STRING> column (round-trip).
    // The sink stores a real ARRAY<STRING> (data_pipeline.py:225-231); the
    // verified projection joins it to one scalar string because the
    // driver's row-sort chokes on array cells (unhashable ndarray).
    QueryDef("sink_audit_append", (s, dir) =>
      graft.sources.Sinks.auditAppend(s, tmp(dir, "audit"), Seq(
        ("daily_visits", 367L, "SUCCESS", "2026-01-01 00:00:00",
          Seq("p1.json", "p2.json")),
        ("ga_sessions", 2509L, "SUCCESS", "2026-01-01 00:00:00",
          Seq("p1.json")),
        ("ga_sessions", 0L, "FAILED: empty_input", "2026-01-01 00:00:00",
          Seq.empty[String])), fresh = true)
        .withColumn("source_files", array_join(col("source_files"), ",")),
      """SELECT * FROM (VALUES
           ('daily_visits', CAST(367 AS BIGINT), 'SUCCESS',
            TIMESTAMP '2026-01-01 00:00:00', 'p1.json,p2.json'),
           ('ga_sessions', CAST(2509 AS BIGINT), 'SUCCESS',
            TIMESTAMP '2026-01-01 00:00:00', 'p1.json'),
           ('ga_sessions', CAST(0 AS BIGINT), 'FAILED: empty_input',
            TIMESTAMP '2026-01-01 00:00:00', ''))
         AS t(table_name, record_count, status, load_timestamp, source_files)"""),

    // schema evolution: a second batch adds a column; mergeSchema read
    // unifies with NULLs for the old batch (the reference relies on
    // BigQuery autodetect for the same situation)
    QueryDef("sink_schema_evolution", (s, dir) => {
      val p = tmp(dir, "evolve")
      val o = Tables.orders(s, dir)
      o.select(col("o_orderkey"), col("o_custkey"))
        .write.mode("overwrite").parquet(s"$p/batch=1")
      o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$p/batch=2")
      s.read.option("mergeSchema", "true").parquet(p)
    },
      """SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
           CAST(1 AS INT) AS batch FROM orders
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice, CAST(2 AS INT) FROM orders"""),

    // the reference's incremental-load extraction: rows strictly newer
    // than the loaded snapshot's max ts (scalar-subquery cutoff as a
    // broadcast 1-row join — no driver round-trip)
    QueryDef("incremental_extract", (s, dir) => {
      val e = eventsBase(s, dir)
      // loaded snapshot = the first 20 days; extract = strictly newer
      val cutoff = e.filter(dayofmonth(col("ts")) <= 20).agg(max(col("ts")).as("m"))
      e.join(broadcast(cutoff)).filter(col("ts") > col("m")).drop("m")
    },
      s"""WITH base AS ($evBase)
          SELECT * FROM base
          WHERE ts > (SELECT max(ts) FROM base WHERE day(ts) <= 20)"""),

    // SCD2 validity intervals: every (user, event_type) version with
    // [valid_from, valid_to) from the next version's timestamp — the
    // history-table companion to the latest-wins MERGE
    QueryDef("scd2_history", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      eventsBase(s, dir).select(
        col("user_id"), col("event_type"), col("event_id"), col("value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        lead(col("ts"), 1).over(w).isNull.as("is_current"))
    },
      s"""WITH base AS ($evBase)
          SELECT user_id, event_type, event_id, value,
            ts AS valid_from,
            lead(ts) OVER w AS valid_to,
            lead(ts) OVER w IS NULL AS is_current
          FROM base
          WINDOW w AS (PARTITION BY user_id, event_type
                       ORDER BY ts ASC, event_id ASC)"""),

    // SQL surface: CTE + correlated EXISTS + HAVING through spark.sql
    QueryDef("sql_cte_query", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      s.sql(
        """WITH big AS (
             SELECT o_custkey, count(*) AS n_big
             FROM orders WHERE o_totalprice > 150000
             GROUP BY o_custkey
             HAVING count(*) >= 2)
           SELECT c_custkey, c_mktsegment, n_big
           FROM customer JOIN big ON c_custkey = o_custkey
           WHERE EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""")
    },
      """WITH big AS (
           SELECT o_custkey, count(*) AS n_big
           FROM orders WHERE o_totalprice > 150000
           GROUP BY o_custkey
           HAVING count(*) >= 2)
         SELECT c_custkey, c_mktsegment, n_big
         FROM customer JOIN big ON c_custkey = o_custkey
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')"""),

    // SQL surface: CORRELATED SCALAR-AGGREGATE subquery (TPC-H Q17
    // shape — rows below 20% of their part's average quantity).
    // Catalyst decorrelates the per-row correlated avg into one
    // aggregate-then-join — per-part avg computed ONCE, not per probe
    // row — which is the plan that survives 100 TB; the quantity sums
    // are exact BIGINT (quantities are integral), and the 0.2*avg
    // comparison is the same IEEE arithmetic in both engines over
    // exactly-representable integer sums
    QueryDef("sql_correlated_agg", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_partkey, count(*) AS n_small,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
           FROM lineitem l1
           WHERE l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                     FROM lineitem l2
                                     WHERE l2.l_partkey = l1.l_partkey)
           GROUP BY l_partkey""")
    },
      // same correlated scalar-aggregate; DuckDB decorrelates identically
      """SELECT l_partkey, count(*) AS n_small,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem l1
         WHERE l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                   FROM lineitem l2
                                   WHERE l2.l_partkey = l1.l_partkey)
         GROUP BY l_partkey"""),

    // SQL surface: multi-SEMI/ANTI self-join composition (TPC-H Q21
    // shape — suppliers whose lineitem shipped late on a finished
    // multi-supplier order where NO co-supplier was late). One CTE
    // computes per-line lateness once; the EXISTS/NOT EXISTS pair then
    // plans as a semi + anti join against it on the order key — no
    // cartesian, both correlated on the equi-key
    QueryDef("sql_multi_semi_anti", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier")
      s.sql(
        """WITH lw AS (
             SELECT l.l_orderkey, l.l_suppkey,
                    CAST(l.l_shipdate AS DATE) >
                      date_add(CAST(o.o_orderdate AS DATE), 60) AS late
             FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
             WHERE o.o_orderstatus = 'F')
           SELECT s.s_suppkey, s.s_name, count(*) AS numwait
           FROM supplier s JOIN lw l1 ON l1.l_suppkey = s.s_suppkey AND l1.late
           WHERE EXISTS (SELECT 1 FROM lw l2
                         WHERE l2.l_orderkey = l1.l_orderkey
                           AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM lw l3
                             WHERE l3.l_orderkey = l1.l_orderkey
                               AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
           GROUP BY s_suppkey, s_name""")
    },
      // date + 60 is DuckDB's day arithmetic (Spark side uses date_add)
      """WITH lw AS (
           SELECT l.l_orderkey, l.l_suppkey,
                  CAST(l.l_shipdate AS DATE) >
                    CAST(o.o_orderdate AS DATE) + 60 AS late
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
           WHERE o.o_orderstatus = 'F')
         SELECT s.s_suppkey, s.s_name, count(*) AS numwait
         FROM supplier s JOIN lw l1 ON l1.l_suppkey = s.s_suppkey AND l1.late
         WHERE EXISTS (SELECT 1 FROM lw l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lw l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
         GROUP BY s_suppkey, s_name"""),

    // corrupt-tolerant ingestion: a JSON feed with malformed lines reads
    // in PERMISSIVE mode — bad records land in _corrupt_record instead of
    // failing the load (the schema-contract edge the reference's
    // autodetect load would hard-fail on)
    QueryDef("source_corrupt_json", (s, dir) => {
      import org.apache.spark.sql.types._
      val p = tmp(dir, "corrupt_json")
      val e = Tables.events(s, dir).filter(col("event_id") < 1000)
      e.select(
        when(col("event_id") % 7 === 0,
          concat(lit("{\"event_id\":"), col("event_id"), lit(",\"user_id\":BROKEN")))
          .otherwise(to_json(struct(col("event_id"), col("user_id"), col("event_type"))))
          .as("value"))
        .coalesce(1).write.mode("overwrite").text(p)
      val schema = new StructType()
        .add("event_id", LongType).add("user_id", LongType)
        .add("event_type", StringType).add("_corrupt_record", StringType)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(p)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("_corrupt_record").isNotNull.as("is_corrupt"))
    },
      // corrupt rows surface as all-null fields + is_corrupt=true
      """SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_id END AS event_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS user_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS event_type,
           (event_id % 7 = 0) AS is_corrupt
         FROM events WHERE event_id < 1000"""),

    // PERMISSIVE CSV twin of source_corrupt_json: a type-mangled field
    // nulls that FIELD, keeps the parsed rest, captures the raw line
    QueryDef("source_corrupt_csv", (s, dir) => {
      import org.apache.spark.sql.types._
      val p = tmp(dir, "corrupt_csv")
      val e = Tables.events(s, dir).filter(col("event_id") < 1000)
      e.select(concat(
          when(col("event_id") % 7 === 0,
            concat(lit("X"), col("event_id")))
            .otherwise(col("event_id").cast("string")),
          lit(","), col("user_id"), lit(","), col("event_type"))
          .as("value"))
        .coalesce(1).write.mode("overwrite").text(p)
      val schema = new StructType()
        .add("event_id", LongType).add("user_id", LongType)
        .add("event_type", StringType).add("_corrupt_record", StringType)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(p)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("_corrupt_record").isNotNull.as("is_corrupt"))
    },
      // CSV PERMISSIVE nulls only the mangled FIELD; the rest still parse
      """SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_id END AS event_id,
           user_id, event_type,
           (event_id % 7 = 0) AS is_corrupt
         FROM events WHERE event_id < 1000"""),

    // §3.1 control flow end-to-end: DQ gate → dedup → merge → audit sink.
    // Result = the merged snapshot (same semantics as merge_upsert_latest).
    QueryDef("pipeline_run", (s, dir) => {
      val e = eventsBase(s, dir)
      val target = Dedup.dedupLatest(e.filter(col("event_id") % 2 === 0),
        eventKeys, col("ts"), Seq(col("event_id")))
      graft.runner.Pipeline.run(s,
        source = e.filter(col("event_id") % 2 === 1),
        target = target,
        contract = Quality.DqContract(
          requiredCols = Seq("event_id", "user_id", "event_type"),
          keys = eventKeys),
        ts = col("ts"), tiebreak = Seq(col("event_id")),
        tableName = "events", auditPath = freshTmp(dir, "pipeline_audit")).merged
    },
      // pipeline_run's merged snapshot is semantically merge_upsert_latest
      mergeUpsertLatest.oracle),

    // the reference's FAILED short-circuit (data_pipeline.py:259-262):
    // a fatal (non-duplicate) DQ failure — injected NULL keys — skips
    // the load and writes the FAILED audit row; returning the audit
    // puts the failure path under the driver gate, not just the specs
    QueryDef("pipeline_run_failed", (s, dir) => {
      val e = eventsBase(s, dir)
      val src = e.withColumn("user_id",
        when(col("event_id") % 97 === 0,
          lit(null).cast(e.schema("user_id").dataType))
          .otherwise(col("user_id")))
      graft.runner.Pipeline.run(s,
        source = src,
        target = e.limit(0),
        contract = Quality.DqContract(
          requiredCols = Seq("event_id", "user_id", "event_type"),
          keys = eventKeys),
        ts = col("ts"), tiebreak = Seq(col("event_id")),
        tableName = "events",
        auditPath = freshTmp(dir, "pipeline_audit_failed"))
        .audit
        .withColumn("source_files", array_join(col("source_files"), ","))
    },
      // the FAILED audit row is fully determined by the injected DQ
      // violation: null keys are fatal, the load is skipped, count is 0
      """SELECT 'events' AS table_name, CAST(0 AS BIGINT) AS record_count,
           'FAILED: null_keys' AS status,
           TIMESTAMP '2026-01-01 00:00:00' AS load_timestamp,
           'mock://endpoint' AS source_files"""),

    // analytic window-function surface: lag/lead/dense_rank/ntile/
    // percent_rank/cume_dist under one total order
    QueryDef("window_funcs", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
    },
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice ASC, o_orderkey ASC)"""),

    // compressed JSON sink round-trip (gzip codec on write)
    QueryDef("sink_json_gzip", (s, dir) => {
      val p = tmp(dir, "json_gz")
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      e.write.mode("overwrite").option("compression", "gzip").json(p)
      s.read.json(p).select(col("event_id").cast("long"),
        col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
    },
      """SELECT event_id, user_id, event_type, value FROM events"""),

    // CDC changelog application: I/U/D ops collapsed to final state,
    // terminal deletes tombstone the key (the third merge shape)
    QueryDef("cdc_apply", (s, dir) => {
      val log = eventsBase(s, dir).withColumn("op",
        when(col("event_id") % 10 === 0, "D")
          .when(col("event_id") % 10 < 4, "I").otherwise("U"))
      Changelog.cdcApply(log, eventKeys, col("ts"), Seq(col("event_id")),
          col("op"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
    },
      // same derived op column, latest-wins collapse, and tombstone filter
      """WITH log AS (SELECT user_id, event_type, event_id,
               CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN event_id % 10 = 0 THEN 'D'
                    WHEN event_id % 10 < 4 THEN 'I' ELSE 'U' END AS op
             FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn FROM log)
         SELECT user_id, event_type, event_id, ts, value
         FROM r WHERE rn = 1 AND op <> 'D'"""),

    // materialized-view maintenance: the corpus agg table advanced by a
    // new batch equals the full recompute (corpus never rescanned)
    QueryDef("incremental_agg_maintain", (s, dir) => {
      val e = eventsBase(s, dir)
      val aggTable = Changelog.buildAgg(
        e.filter(col("event_id") % 10 =!= 0), eventKeys, col("value"))
      Changelog.maintainAgg(aggTable,
          e.filter(col("event_id") % 10 === 0), eventKeys, col("value"))
        .select(col("user_id"), col("event_type"), col("n"),
          col("s").cast("double").as("sum_value"), col("mn"), col("mx"))
    },
      // the invariant IS the oracle: maintained == full recompute over
      // corpus ∪ batch (counts/sums/extrema are decomposable)
      """SELECT user_id, event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
           min(value) AS mn, max(value) AS mx
         FROM events GROUP BY 1, 2"""),

    // materialized JOIN-view maintenance: 4 arrival ticks on BOTH
    // sides advanced by the delta rule == the one-shot join (the
    // accumulated x accumulated join is never redone; late-arriving
    // customers pick up their earlier orders via the A_old JOIN dB term)
    QueryDef("incremental_join_maintain", (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_orderstatus"))
      val c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      Changelog.maintainJoinTicks(o, c, Seq("custkey"),
        aTick = col("o_orderkey") % 4, bTick = col("custkey") % 4,
        ticks = 4)
    },
      // the delta-rule invariant IS the oracle: the tick-maintained view
      // equals the one-shot join
      """SELECT o_custkey AS custkey, o_orderkey, o_orderstatus,
           c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey"""),

    // SCD2 MERGE: a mid-January change batch applied to the dimension
    // built from earlier history == the full rebuild (history rows
    // never re-shuffled)
    QueryDef("scd2_merge", (s, dir) => {
      val e = eventsBase(s, dir)
      val cutoff = lit("2024-01-15").cast("timestamp")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("valid_from").asc, col("id").asc)
      val dim = e.filter(col("ts") < cutoff)
        .select(col("user_id"), col("event_type"), col("value"),
          col("event_id").as("id"), col("ts").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
      Temporal.scd2Merge(dim, e.filter(col("ts") >= cutoff),
          keys = Seq("user_id", "event_type"), ts = col("ts"),
          idCol = col("event_id"), payload = Seq("value"))
        .select(col("user_id"), col("event_type"), col("id").as("event_id"),
          col("value"), col("valid_from"), col("valid_to"),
          col("is_current"))
    },
      // the incremental-equals-full invariant IS the oracle: the merged
      // dimension equals a rebuild over ALL events
      s"""WITH base AS ($evBase)
          SELECT user_id, event_type, event_id, value,
            ts AS valid_from,
            lead(ts) OVER w AS valid_to,
            lead(ts) OVER w IS NULL AS is_current
          FROM base
          WINDOW w AS (PARTITION BY user_id, event_type
                       ORDER BY ts ASC, event_id ASC)"""),

    // snapshot regression diff: adds/removes/changes between two loads
    // (old = drop %5 keys; new = drop %7 keys, value bumped on %9)
    QueryDef("snapshot_diff", (s, dir) => {
      val e = eventsBase(s, dir)
      val old = e.filter(col("event_id") % 5 =!= 0)
      val nw = e.filter(col("event_id") % 7 =!= 0)
        .withColumn("value",
          when(col("event_id") % 9 === 0, col("value") + 1)
            .otherwise(col("value")))
      Changelog.snapshotDiff(old, nw, keys = Seq("event_id"),
        payload = Seq("user_id", "event_type", "value"))
    },
      // same key split, payload hash compare, and change-only filter
      """WITH o AS (SELECT event_id,
               sha256(CAST(user_id AS VARCHAR) || event_type
                 || CAST(value AS VARCHAR)) AS h
             FROM events WHERE event_id % 5 <> 0),
         n AS (SELECT event_id,
               sha256(CAST(user_id AS VARCHAR) || event_type
                 || CAST(CASE WHEN event_id % 9 = 0 THEN value + 1
                              ELSE value END AS VARCHAR)) AS h
             FROM events WHERE event_id % 7 <> 0)
         SELECT event_id, status FROM (
           SELECT coalesce(o.event_id, n.event_id) AS event_id,
             CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS status
           FROM o FULL OUTER JOIN n ON o.event_id = n.event_id)
         WHERE status <> 'unchanged'"""),

    // SCD2 point-in-time lookup: each purchase resolves the view-version
    // whose [valid_from, valid_to) interval covers its timestamp — the
    // interval-join complement to the as-of operators (disjoint validity
    // intervals guarantee <= 1 match per probe).
    QueryDef("scd2_lookup", (s, dir) => {
      val e = eventsBase(s, dir)
      val dim = e.filter(col("event_type") === "view")
        .select(col("user_id").as("d_user_id"),
          col("event_id").as("version_id"),
          col("ts").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("d_user_id"))
            .orderBy(col("valid_from").asc, col("version_id").asc)))
      val probes = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      probes.join(dim,
          col("user_id") === col("d_user_id") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")),
          "left_outer")
        .select(col("user_id"), col("purchase_id"), col("ts"),
          col("version_id"), col("valid_from"))
    },
      s"""WITH base AS ($evBase),
         v AS (SELECT user_id AS d_user_id, event_id AS version_id,
                 ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts ASC, event_id ASC) AS valid_to
               FROM base WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts FROM base
               WHERE event_type = 'purchase')
         SELECT p.user_id, p.purchase_id, p.ts, v.version_id, v.valid_from
         FROM p LEFT JOIN v ON p.user_id = v.d_user_id
           AND p.ts >= v.valid_from
           AND (v.valid_to IS NULL OR p.ts < v.valid_to)""")
  )

  // ---- builders ----------------------------------------------------

  /** [[tmp]], emptied first: for an entry whose sink appends (the audit
    * log), so every run of it returns the same rows.
    */
  private def freshTmp(dir: String, name: String): String = {
    val p = tmp(dir, name)
    Distribute.deleteRecursively(new java.io.File(p))
    p
  }

  // ---- oracle SQL (DuckDB) ------------------------------------------

  /** All events columns at microsecond ts precision (DuckDB reads the
    * parquet as TIMESTAMP_NS; Spark truncates to micros).
    */
  private val evBase =
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"
}
