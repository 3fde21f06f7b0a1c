package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops._
import Fixtures._

/** SQL and DataFrame relational queries: TPC-H shapes, joins, aggregates,
  * grouping sets, window functions, set operations and the built-in
  * function families.
  */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(
    // per-nation revenue concentration: exact-integer Gini + top-decile
    QueryDef("gini_concentration", (s, dir) =>
      Relational.giniConcentration(Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir)),
      // exact-integer Lorenz arithmetic: rank by (spend, custkey), Gini =
      // (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)); top decile = the integer
      // tail i > n - n // 10 of the same ranking
      """WITH sp AS (SELECT o_custkey AS custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS spend
             FROM orders GROUP BY 1),
           bn AS (SELECT n_name AS nation, custkey, spend
                  FROM sp JOIN customer ON custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey),
           r AS (SELECT nation, custkey, spend,
                   row_number() OVER (PARTITION BY nation
                     ORDER BY spend, custkey) AS i,
                   count(*) OVER (PARTITION BY nation) AS n_part
                 FROM bn),
           a AS (SELECT nation, count(*) AS n_customers,
                   CAST(sum(spend) AS BIGINT) AS sx,
                   CAST(sum(i * spend) AS BIGINT) AS six,
                   CAST(sum(CASE WHEN i > n_part - n_part // 10
                            THEN spend ELSE 0 END) AS BIGINT) AS top_x
                 FROM r GROUP BY 1)
         SELECT nation, n_customers, CAST(sx AS DOUBLE) AS total_cents,
           CASE WHEN n_customers * sx = 0 THEN NULL
                ELSE round(CAST(2 * six - (n_customers + 1) * sx AS DOUBLE)
                         / CAST(n_customers * sx AS DOUBLE), 6) END AS gini,
           CASE WHEN sx = 0 THEN NULL
                ELSE round(CAST(top_x AS DOUBLE) / CAST(sx AS DOUBLE), 6)
                END AS top_decile_share
         FROM a"""),

    // 5% rebate split per order in exact cents, largest remainder
    QueryDef("prorate_allocate", (s, dir) =>
      Relational.prorateAllocate(Tables.lineitem(s, dir)),
      // largest-remainder proration: floor shares + one extra cent to the
      // top-remainder lines; per-order sums land exactly on the budget
      """WITH b AS (SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS line_cents
             FROM lineitem),
           t AS (SELECT l_orderkey, l_linenumber, line_cents,
                   CAST(sum(line_cents) OVER (PARTITION BY l_orderkey)
                     AS BIGINT) AS tot
                 FROM b),
           f AS (SELECT *, (tot * 5) // 100 AS budget,
                   CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)
                     ELSE (((tot * 5) // 100) * line_cents) // tot END AS fl,
                   CASE WHEN tot = 0 THEN CAST(0 AS BIGINT)
                     ELSE (((tot * 5) // 100) * line_cents) % tot END AS rem
                 FROM t),
           r AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY rem DESC, l_linenumber ASC) AS extra_rank,
                   budget - CAST(sum(fl) OVER (PARTITION BY l_orderkey)
                     AS BIGINT) AS short
                 FROM f)
         SELECT l_orderkey, l_linenumber, line_cents, budget,
           CAST(fl + CASE WHEN extra_rank <= short THEN 1 ELSE 0 END
             AS BIGINT) AS alloc_cents
         FROM r"""),

    // 2-D Pareto frontier of parts: cheapest price for the largest size
    QueryDef("skyline_pareto", (s, dir) =>
      Relational.skylinePareto(Tables.part(s, dir),
        cost = col("p_retailprice"), gain = col("p_size"),
        idCol = col("p_partkey"), bucketWidth = 10.0)
        .select(col("id").as("p_partkey"), col("cost").as("p_retailprice"),
          col("gain").as("p_size")),
      // dominance is strict in at least one dimension, so exact (cost,
      // gain) duplicates all survive — same rule as the Spark operator
      """SELECT p_partkey, p_retailprice, p_size FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM part q
           WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))"""),

    // survivorship golden record per customer: recency-wins fields via
    // max_by version structs, exact-decimal lifetime spend
    QueryDef("golden_record", (s, dir) =>
      Relational.goldenRecord(Tables.orders(s, dir)),
      // recency-wins fields via the same (orderdate, orderkey) version
      // order; lifetime spend through DECIMAL before the double cast
      """WITH v AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
         SELECT o_custkey,
           max(CASE WHEN rn = 1 THEN o_orderstatus END) AS latest_status,
           max(CASE WHEN rn = 1 THEN o_orderpriority END) AS latest_priority,
           CAST(min(o_orderdate) AS DATE) AS first_order_day,
           max(o_totalprice) AS top_order_value,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS lifetime_spend,
           count(*) AS n_orders
         FROM v GROUP BY 1"""),

    // join-strategy control surface: the same equi-join under an
    // explicit SHUFFLE_MERGE hint — the escape hatch when a broadcast
    // would OOM the driver or a hash build would spill (plan audited;
    // result identical to the unhinted join, which is the oracle)
    QueryDef("join_hint_merge", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.hint("merge")
        .join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    },
      // hints are plan-only: the oracle is the plain join
      """SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1"""),

    // SQL surface: LATERAL correlated subquery (per-group top-k as a
    // join operand) — Spark decorrelates it into the window/limit
    // shape; WindowGroupLimit prunes before the sort
    QueryDef("sql_lateral_topk", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(
        """SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
           FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
           LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                    WHERE o.o_orderpriority = p.o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l""")
    },
      // DuckDB's LATERAL keeps the same shape
      """SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
         FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_orderpriority = p.o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l"""),

    // deterministic ordered string aggregation (LISTAGG): top-5 order
    // keys per priority concatenated in explicit (price desc, key)
    // order — collect_list carries (sort-key, value) structs so the
    // in-group order is total, not arrival order
    QueryDef("listagg_ordered", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("o_orderpriority"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(
            (-col("o_totalprice")).as("negp"), col("o_orderkey").as("k")))),
          e => e.getField("k").cast("string")), ",").as("top_keys"))
    },
      // string_agg with an explicit ORDER BY is the same total order
      """SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_totalprice DESC, o_orderkey) AS top_keys
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 5 GROUP BY 1"""),

    // wide→long reshape via Dataset.unpivot (melt) — the inverse of
    // pivot_counts; Catalyst's Expand node, one scan, no join
    QueryDef("unpivot_melt", (s, dir) => {
      val wide = Tables.orders(s, dir).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      wide.unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("sum_cents")), "metric", "value")
    },
      // melt = one UNION ALL branch per measure
      """WITH w AS (SELECT o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM orders GROUP BY 1)
         SELECT o_orderpriority, 'n_orders' AS metric,
                CAST(n_orders AS BIGINT) AS value FROM w
         UNION ALL
         SELECT o_orderpriority, 'sum_cents', sum_cents FROM w"""),

    // A1: audit record counts (data_pipeline.py:227)
    QueryDef("agg_counts", (s, dir) =>
      Relational.aggCounts(Seq(
        "orders"   -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir),
        "events"   -> Tables.events(s, dir),
        "customer" -> Tables.customer(s, dir))),
      """SELECT 'orders' AS table_name, count(*) AS record_count FROM orders
         UNION ALL SELECT 'lineitem', count(*) FROM lineitem
         UNION ALL SELECT 'events', count(*) FROM events
         UNION ALL SELECT 'customer', count(*) FROM customer"""),

    // E6: pricing rollup (TPC-H Q1 shape)
    QueryDef("agg_rollup", (s, dir) =>
      Relational.pricingRollup(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),

    // E6: ranking window, top-k per group
    QueryDef("window_rank", (s, dir) =>
      Relational.topKPerGroup(Tables.orders(s, dir), 10),
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
         FROM orders QUALIFY rnk <= 10"""),

    // E6: star-schema join + rollup with broadcast dimensions
    QueryDef("join_revenue", (s, dir) => Relational.revenueByNation(s, dir),
      """SELECT r_name, n_name,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name"""),

    // E6: supplier-side rollup — quantity shipped per supplier nation
    // (broadcast supplier+nation dims against the lineitem fact)
    QueryDef("supplier_rollup", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_quantity"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
      val n = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast("double").as("total_qty"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT n_name,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           count(*) AS n_lines
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name"""),

    // temporal order analytics: days from order date to last shipment
    QueryDef("order_lateness", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("last_ship"))
      Tables.orders(s, dir)
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"),
          datediff(col("last_ship").cast("date"),
            col("o_orderdate").cast("date")).as("days_to_last_ship"))
    },
      """SELECT o_orderkey,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
             CAST(last_ship AS DATE)) AS INT) AS days_to_last_ship
         FROM orders
         JOIN (SELECT l_orderkey, max(l_shipdate) AS last_ship
               FROM lineitem GROUP BY l_orderkey) l
           ON o_orderkey = l_orderkey"""),

    // CUBE grouping-sets rollup with subtotal disambiguation
    QueryDef("cube_rollup", (s, dir) =>
      Relational.cubeRollup(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n,
           grouping_id(l_returnflag, l_linestatus) AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    // ROLLUP hierarchy (flag → flag+status → grand total)
    QueryDef("rollup_sets", (s, dir) =>
      Relational.rollupSets(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n,
           grouping_id(l_returnflag, l_linestatus) AS gid
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),

    // explicit GROUPING SETS (two independent groupings, one pass)
    QueryDef("grouping_sets", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             count(*) AS n
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")
    },
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""),

    // UNPIVOT (wide → long): order money columns as (metric, amount) rows
    QueryDef("unpivot_metrics", (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("price_with_tax", col("o_totalprice") * 1.1)
        .unpivot(
          Array(col("o_orderkey")),
          Array(col("o_totalprice"), col("price_with_tax")),
          "metric", "amount"),
      """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS amount
         FROM orders
         UNION ALL
         SELECT o_orderkey, 'price_with_tax', o_totalprice * 1.1 FROM orders"""),

    // FULL OUTER join; customers thinned so both null sides are non-empty
    QueryDef("join_full_outer", (s, dir) =>
      Relational.fullOuterOrders(
        Tables.customer(s, dir).filter(col("c_custkey") % 3 =!= 0),
        Tables.orders(s, dir)),
      """SELECT c_custkey, c_name, o_orderkey,
           CASE WHEN c_custkey IS NULL THEN 'order_only'
                WHEN o_orderkey IS NULL THEN 'customer_only'
                ELSE 'matched' END AS side
         FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 <> 0) c
         FULL OUTER JOIN (SELECT o_orderkey, o_custkey FROM orders) o
           ON c_custkey = o_custkey"""),

    // bag-semantics set operations (EXCEPT ALL / INTERSECT ALL)
    QueryDef("set_ops_all", (s, dir) => {
      val e = Tables.events(s, dir)
      def users(t: String) =
        e.filter(col("event_type") === t).select(col("user_id"))
      users("click").intersectAll(users("purchase"))
        .withColumn("op", lit("click_and_buy_all"))
        .unionByName(
          users("click").exceptAll(users("error"))
            .withColumn("op", lit("click_no_error_all")))
    },
      """SELECT user_id, 'click_and_buy_all' AS op FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT ALL
            SELECT user_id FROM events WHERE event_type = 'purchase')
         UNION ALL
         SELECT user_id, 'click_no_error_all' FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT ALL
            SELECT user_id FROM events WHERE event_type = 'error')"""),

    // exact distinct-count per group (expand + two-phase plan)
    QueryDef("distinct_users", (s, dir) =>
      Relational.distinctUsers(Tables.events(s, dir)),
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type"""),

    // pivot: user x event_type contingency counts
    QueryDef("pivot_counts", (s, dir) =>
      Relational.pivotEventCounts(Tables.events(s, dir),
          Seq("click", "error", "purchase", "signup", "view"))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view")),
      """SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id"""),

    // deterministic mode: most frequent event_type per user, ties broken
    // alphabetically (the built-in mode() is tie-nondeterministic)
    QueryDef("mode_per_user", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("event_type").asc)
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("top_type"), col("cnt"))
    },
      """SELECT user_id, event_type AS top_type, cnt FROM (
           SELECT user_id, event_type, count(*) AS cnt,
             row_number() OVER (PARTITION BY user_id
               ORDER BY count(*) DESC, event_type ASC) AS rn
           FROM events GROUP BY user_id, event_type)
         WHERE rn = 1"""),

    // fixed-width histogram of the value column (floor-bucketed)
    QueryDef("value_histogram", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(floor(col("value") / 10.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi")),
      """SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
           count(*) AS n, min(value) AS lo, max(value) AS hi
         FROM events GROUP BY 1"""),

    // exact percentiles per group (low-cardinality columns: interpolation
    // lands inside runs of equal values, so results are FP-formula-proof)
    QueryDef("quantiles", (s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
        expr("percentile(l_quantity, 0.5)").as("qty_p50"),
        expr("percentile(l_quantity, 0.9)").as("qty_p90"),
        expr("percentile(l_discount, 0.5)").as("disc_p50")),
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS qty_p50,
           quantile_cont(l_quantity, 0.9) AS qty_p90,
           quantile_cont(l_discount, 0.5) AS disc_p50
         FROM lineitem GROUP BY l_returnflag"""),

    // running-frame windows: cumulative count + exact decimal sum
    QueryDef("window_running", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      eventsBase(s, dir).select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("running_n"),
        // exact decimal accumulation, DOUBLE result type (Relational scaladoc)
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_value"))
    },
      """SELECT event_id, user_id,
           count(*) OVER w AS running_n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""),

    // null-safe equality join (<=>): NULL keys pair with NULL keys
    QueryDef("join_null_safe", (s, dir) => {
      val e = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_id") % 10 === 0, lit(null))
          .otherwise(col("user_id")).as("uid"))
      val c = Tables.customer(s, dir).select(
        when(col("c_custkey") % 10 === 0, lit(null))
          .otherwise(col("c_custkey")).as("uid"),
        col("c_name"))
      e.join(c, e("uid") <=> c("uid"))
        .select(col("event_id"), e("uid").as("uid"), col("c_name"))
    },
      """SELECT event_id, e.uid AS uid, c_name
         FROM (SELECT event_id,
                 CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS uid
               FROM events) e
         JOIN (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END AS uid,
                 c_name FROM customer) c
         ON e.uid IS NOT DISTINCT FROM c.uid"""),

    // regex scalar surface (extract group / replace / match)
    QueryDef("regex_funcs", (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+) ([A-Z]+)", 2).as("second_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        // a DISCRIMINATING pattern (brands are Brand#xy, x,y ∈ 1..5 —
        // '#[0-9]+$' matched every row, so the flag verified nothing)
        col("p_brand").rlike("#1[0-9]$").as("numbered_brand")),
      """SELECT p_partkey,
           regexp_extract(p_type, '([A-Z]+) ([A-Z]+)', 2) AS second_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_brand, '#1[0-9]$') AS numbered_brand
         FROM part"""),

    // decile stats: ntile(10) over value, per-decile count and bounds
    QueryDef("quantile_buckets", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("value"), ntile(10).over(w).as("decile"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))
    },
      """SELECT decile, count(*) AS n, min(value) AS lo, max(value) AS hi
         FROM (SELECT event_id, value,
                 CAST(ntile(10) OVER (ORDER BY value ASC, event_id ASC) AS INT) AS decile
               FROM events)
         GROUP BY decile"""),

    // semi/anti join shapes: customers with vs without orders
    QueryDef("join_semi_anti", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"))
      val o = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi")
        .withColumn("status", lit("has_orders"))
        .unionByName(
          c.join(o, Seq("c_custkey"), "left_anti")
            .withColumn("status", lit("no_orders")))
    },
      """SELECT c_custkey, 'has_orders' AS status FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, 'no_orders' FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""),

    // set operations: INTERSECT / EXCEPT with distinct semantics
    QueryDef("set_ops", (s, dir) => {
      val e = Tables.events(s, dir)
      def users(t: String) =
        e.filter(col("event_type") === t).select(col("user_id"))
      users("click").intersect(users("purchase"))
        .withColumn("op", lit("click_and_buy"))
        .unionByName(
          users("click").except(users("error"))
            .withColumn("op", lit("click_no_error")))
    },
      """SELECT user_id, 'click_and_buy' AS op FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase')
         UNION ALL
         SELECT user_id, 'click_no_error' FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'error')"""),

    // scalar string-function surface
    QueryDef("string_funcs", (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        substring(col("p_type"), 1, 5).as("sub"),
        replace(col("p_brand"), lit("#"), lit("-")).as("repl"),
        lpad(col("p_brand"), 12, "*").as("pad"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        length(col("p_name")).cast("int").as("len")),
      """SELECT p_partkey, upper(p_name) AS up,
           substring(p_type, 1, 5) AS sub,
           replace(p_brand, '#', '-') AS repl,
           lpad(p_brand, 12, '*') AS pad,
           concat_ws('|', p_brand, p_type) AS joined,
           CAST(length(p_name) AS INT) AS len
         FROM part"""),

    // scalar date/time-function surface
    QueryDef("datetime_funcs", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2000-01-01").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_y2k"),
        col("o_orderdate").cast("date").as("od")),
      """SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k,
           CAST(o_orderdate AS DATE) AS od
         FROM orders"""),

    // JSON-function surface over the props column (scalar projections)
    QueryDef("json_funcs", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_long"),
        array_join(json_object_keys(col("props")), ",").as("keys"),
        length(col("props")).cast("long").as("raw_len")),
      """SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           array_to_string(json_keys(props), ',') AS keys,
           CAST(length(props) AS BIGINT) AS raw_len
         FROM events"""),

    // null/conditional scalar surface
    QueryDef("null_funcs", (s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status2"),
        greatest(col("o_totalprice"), lit(100000.0)).as("hi"),
        least(col("o_totalprice"), lit(100000.0)).as("lo"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "rush")
          .otherwise("std").as("class")),
      """SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
           greatest(o_totalprice, 100000.0) AS hi,
           least(o_totalprice, 100000.0) AS lo,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'rush'
                ELSE 'std' END AS class
         FROM orders"""),

    // deterministic hash sampling — stable across runs, partitionings and
    // engines (pure integer arithmetic, no RNG): the reproducible way to
    // carve training subsets. A production id domain would use a 64-bit
    // mix (splitmix64) — same shape, wider constants.
    QueryDef("sample_hash", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .filter((col("event_id") * 1000003L % 1000000007L) % 100 < 10),
      """SELECT event_id, user_id, event_type FROM events
         WHERE (event_id * 1000003 % 1000000007) % 100 < 10"""),

    // stratified variant: top-N per stratum in hash order (equal-size
    // strata samples regardless of class skew)
    QueryDef("sample_stratified", (s, dir) => {
      val h = col("event_id") * 1000003L % 1000000007L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(h.asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
    },
      """SELECT event_id, user_id, event_type,
           CAST(row_number() OVER (PARTITION BY event_type
             ORDER BY event_id * 1000003 % 1000000007 ASC, event_id ASC) AS INT) AS rn
         FROM events QUALIFY rn <= 50"""),

    // Spark SQL surface: TPC-H Q3-shaped top-k revenue via spark.sql over
    // registered temp views (same text modulo dialect in the oracle)
    QueryDef("sql_query", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      // top-10 membership/order decided on the exact decimal sum; only the
      // final projection converts to DOUBLE (see Relational scaladoc)
      s.sql(
        """SELECT o_orderkey, o_orderdate, CAST(revenue AS DOUBLE) AS revenue
           FROM (SELECT o_orderkey, o_orderdate,
                   sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS revenue
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                 WHERE o_orderstatus = 'O'
                 GROUP BY o_orderkey, o_orderdate
                 ORDER BY revenue DESC, o_orderkey ASC
                 LIMIT 10)""")
    },
      """SELECT o_orderkey, o_orderdate, CAST(revenue AS DOUBLE) AS revenue
         FROM (SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                 sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS revenue
               FROM orders JOIN lineitem ON l_orderkey = o_orderkey
               WHERE o_orderstatus = 'O'
               GROUP BY o_orderkey, o_orderdate
               ORDER BY revenue DESC, o_orderkey ASC
               LIMIT 10)"""),

    // SQL surface: TPC-H Q20 shape — semi-join driven by a NESTED
    // aggregate comparison (suppliers who shipped an ABOVE-AVERAGE
    // share of a LIKE-filtered part's total; exact by
    // cross-multiplication: sq * n_suppliers > total). The part filter
    // prunes lineitem FIRST (broadcastable dim), both aggregates reuse
    // the same pruned scan, and the final semi-join touches supplier
    // once — no correlated re-execution per row.
    QueryDef("sql_q20_shape", (s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_name").like("%bolt%")).select(col("p_partkey"))
      val l = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_quantity") * 100).cast("long").as("q_cents"))
      val perSupp = l.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("q_cents")).as("sq"))
      val perPart = l.groupBy(col("l_partkey"))
        .agg(sum(col("q_cents")).as("tq"),
          countDistinct(col("l_suppkey")).as("ns"))
      val dominant = perSupp.join(perPart, "l_partkey")
        .filter(col("sq") * col("ns") > col("tq"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    },
      """WITH l AS (SELECT l_partkey, l_suppkey,
                 CAST(round(l_quantity * 100) AS BIGINT) AS q_cents
               FROM lineitem JOIN part ON p_partkey = l_partkey
               WHERE p_name LIKE '%bolt%'),
         ps AS (SELECT l_partkey, l_suppkey,
                  CAST(sum(q_cents) AS BIGINT) AS sq
                FROM l GROUP BY 1, 2),
         tot AS (SELECT l_partkey, CAST(sum(q_cents) AS BIGINT) AS tq,
                  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS ns
                 FROM l GROUP BY 1)
         SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT DISTINCT l_suppkey FROM ps JOIN tot USING (l_partkey)
           WHERE sq * ns > tq)"""),

    // SQL surface: TPC-H Q22 shape — global scalar cutoff (avg positive
    // balance, exact by cross-multiplication in cents: bal*n > sum) +
    // NOT EXISTS anti-join against RECENT orders (every customer in the
    // synthetic data has *some* order, so Q22's "no orders at all" is
    // vacuous; "gone quiet since 2000" keeps the shape non-degenerate)
    // + group. The 1-row cutoff is the doctrine's legal broadcast; the
    // anti-join shuffles on the join key only, after the date filter
    // prunes the orders side at the scan.
    QueryDef("sql_q22_balance", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"),
        col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val thr = c.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("s_pos"), count(lit(1)).as("n_pos"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("2000-01-01"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(thr))
        .filter(col("bal_cents") * col("n_pos") > col("s_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal_cents")).as("totacctbal_cents"))
    },
      """WITH c AS (SELECT c_custkey, c_nationkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
               FROM customer),
         t AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS s_pos,
                 CAST(count(*) AS BIGINT) AS n_pos
               FROM c WHERE bal_cents > 0)
         SELECT c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
         FROM c, t
         WHERE bal_cents * n_pos > s_pos
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND CAST(o.o_orderdate AS DATE)
                                 >= DATE '2000-01-01')
         GROUP BY 1"""),

    // SQL surface: TPC-H Q15 shape — scalar-max-of-view equality join
    // (top supplier by windowed revenue). The revenue view is PERSISTED
    // — it is referenced twice (max probe + equality join) and without
    // the cache Catalyst plans two full lineitem scans (exchange reuse
    // does not dedupe the aggregates; verified in PLANS.md). The cached
    // view is supplier-cardinality, not corpus-sized, so this is the
    // legal-materialization analogue of Q15's CREATE VIEW. Revenue in
    // exact integer milli-cents: price_cents × (100 − disc_pct) —
    // bit-reproducible in both engines, so the max-equality join has
    // no IEEE tie ambiguity. Ties all surface (TPC-H semantics).
    QueryDef("sql_q15_top_supplier", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("total_revenue_mc"))
        .persist()
      val mx = rev.agg(max(col("total_revenue_mc")).as("mx"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(mx))
        .filter(col("total_revenue_mc") === col("mx"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_mc"))
    },
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS total_revenue_mc
           FROM lineitem
           WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
             AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue_mc
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_revenue_mc = (SELECT max(total_revenue_mc) FROM rev)"""),

    // SQL surface: TPC-H Q18 shape — HAVING-driven IN subquery (large-
    // volume orders). The qualifying-key set comes from one lineitem
    // aggregation (quantity in exact cents); the left-semi join back
    // onto orders⋈customer probes that set — at scale AQE broadcasts
    // the (rare) qualifying keys, and the detail re-aggregation reuses
    // the l_orderkey partitioning of the semi-joined scan.
    QueryDef("sql_q18_large_volume", (s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
        round(col("l_quantity") * 100).cast("long").as("q_cents"))
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("q_cents")).as("sumq"))
        .filter(col("sumq") > lit(30000L))
        .select(col("l_orderkey"))
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_date"))
        .agg(sum(col("q_cents")).as("total_q_cents"))
    },
      """WITH l AS (SELECT l_orderkey,
                 CAST(round(l_quantity * 100) AS BIGINT) AS q_cents
               FROM lineitem)
         SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_date,
           CAST(sum(q_cents) AS BIGINT) AS total_q_cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN l ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM l
                              GROUP BY 1 HAVING sum(q_cents) > 30000)
         GROUP BY 1, 2, 3"""),

    // SQL surface: TPC-H Q19 shape — disjunctive (OR-of-ANDs) join
    // predicate. Catalyst extracts the COMMON l_partkey = p_partkey
    // equi-key so this stays a hash join (not a cartesian with a
    // residual), pushes the brand/size disjunction down to the part
    // scan and the quantity bounds to the lineitem scan (each
    // disjunct's per-side conjuncts OR-ed: quantity ∈ [1,50] here —
    // weakest precondition, still a scan-level filter), and evaluates
    // the full disjunction as the join residual. Revenue in exact
    // milli-cents.
    QueryDef("sql_q19_disjunctive", (s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
      val cases =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(cases)
        .groupBy(col("p_brand"))
        .agg(sum(col("rev_mc")).as("revenue_mc"),
          count(lit(1)).as("n_items"))
    },
      """SELECT p_brand,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc,
           CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 50)
         GROUP BY 1"""),

    // SQL surface: TPC-H Q2 shape — min-cost-supplier-per-part (argmin
    // with ties). No partsupp table in this schema, so supply cost is
    // the MIN OBSERVED sale price in cents per (part, supplier) pair —
    // deterministic and integer-exact. The regional supplier
    // restriction applies BEFORE the per-part min (Q2 semantics). The
    // costed relation is part-slice-cardinality and referenced twice
    // (per-part min + equality join back), so it is persisted — the
    // Q15 legal-materialization rule; without it both branches re-run
    // the full lineitem aggregation. Dim slices (filtered part,
    // supplier⋈nation⋈region) are broadcast per the q19/q20 dim
    // convention; only lineitem shuffles, on its natural group key.
    QueryDef("sql_q2_min_cost", (s, dir) => {
      val suppReg = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val p = Tables.part(s, dir)
        .filter(col("p_type") === "STANDARD" && col("p_size").between(10, 25))
        .select(col("p_partkey"))
      val cost = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppReg), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("n_name"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long"))
          .as("cost_cents"))
        .persist()
      val mn = cost.groupBy(col("p_partkey").as("mk"))
        .agg(min(col("cost_cents")).as("mn"))
      cost.join(mn, col("p_partkey") === col("mk") &&
          col("cost_cents") === col("mn"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("n_name"), col("cost_cents"))
    },
      """WITH cost AS (
           SELECT p_partkey, s_suppkey, s_name, n_name,
             CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS cost_cents
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
             AND p_size BETWEEN 10 AND 25
           GROUP BY 1, 2, 3, 4)
         SELECT p_partkey, s_suppkey, s_name, n_name, cost_cents
         FROM cost c
         WHERE cost_cents = (SELECT min(cost_cents) FROM cost c2
                             WHERE c2.p_partkey = c.p_partkey)"""),

    // SQL surface: TPC-H Q3 shape — unshipped-order revenue top-k.
    // Segment slice prunes orders; the date filters push to both
    // scans; revenue in exact milli-cents so the top-10 cut has no
    // IEEE tie ambiguity (deterministic o_orderkey tiebreak anyway).
    // The customer slice is NOT hinted — it is 1/5 of an SF-scaled
    // table, so AQE owns the broadcast decision (broadcast doctrine).
    QueryDef("sql_q3_shipping", (s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") < lit("1997-01-01"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"),
          col("o_orderpriority"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") > lit("1997-01-01"))
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_date"), col("o_orderpriority"))
        .agg(sum(col("rev_mc")).as("revenue_mc"))
        .orderBy(col("revenue_mc").desc, col("o_orderkey").asc)
        .limit(10)
    },
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
           o_orderpriority,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) > DATE '1997-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue_mc DESC, o_orderkey ASC
         LIMIT 10"""),

    // SQL surface: TPC-H Q4 shape — EXISTS → left-semi with a
    // non-equi residual (this schema has no commit/receipt dates, so
    // "late" = shipped >60 days after the order date). The semi-join
    // keeps the orders side at most once per order regardless of how
    // many lineitems qualify; the quarter filter prunes orders at the
    // scan before the shuffle.
    QueryDef("sql_q4_order_priority", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("1996-07-01") &&
          col("o_orderdate").cast("date") < lit("1996-10-01"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast("date").as("o_date"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("ship") > date_add(col("o_date"), 60), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND CAST(l_shipdate AS DATE)
                             > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
         GROUP BY 1"""),

    // SQL surface: TPC-H Q6 shape — single-scan filter + global agg.
    // The plain quantity bound is a parquet PushedFilter; the date
    // casts and the exact-cents discount match (round(x*100) ∈ [5,7])
    // are arithmetic, so they evaluate in the codegen'd Filter right
    // above the scan — still one scan, one 1-row gather. Revenue =
    // price_cents × disc_cents, integer-exact in both engines.
    QueryDef("sql_q6_forecast", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") < lit("1997-01-01") &&
          round(col("l_discount") * 100).cast("long").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_discount") * 100).cast("long")).as("revenue_e4"),
          count(lit(1)).as("n_items")),
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
           AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
           AND l_quantity < 24"""),

    // SQL surface: TPC-H Q7 shape — cross-nation shipping volume.
    // The pair disjunction can't be pushed per side, but each side IS
    // pre-filtered to the two nations (the classic Q7 rewrite), so the
    // supplier/customer join inputs are 2/25 slices; the residual
    // disjunction runs after both nation names are in scope. Supplier
    // slice broadcast (dim convention); customer slice left to AQE.
    // pair chosen so at least one direction is populated at every SF:
    // sf0.001's 10 suppliers live in nations {3,8,12,...} — NATION_3
    // always has a supplier; customers exist in all 25 nations
    QueryDef("sql_q7_nation_volume", (s, dir) => {
      val pair = Seq("NATION_3", "NATION_1")
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01") &&
          col("l_shipdate").cast("date") <= lit("1997-12-31"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === pair.head &&
            col("cust_nation") === pair(1)) ||
          (col("supp_nation") === pair(1) && col("cust_nation") === pair.head))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("rev_mc")).as("revenue_mc"))
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS l_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
           AND CAST(l_shipdate AS DATE) <= DATE '1997-12-31'
           AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_1')
             OR (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_3'))
         GROUP BY 1, 2, 3"""),

    // SQL surface: TPC-H Q8 shape — market share: conditional share of
    // one supplier nation inside a region+type-filtered volume, per
    // year. Both sums are exact milli-cent longs; the share divides
    // long→double at the very end (exact for < 2^53, identical IEEE
    // result in both engines).
    QueryDef("sql_q8_market_share", (s, dir) => {
      val cReg = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"))
      val p = Tables.part(s, dir)
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
            col("o_orderdate").cast("date") <= lit("1997-12-31"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cReg, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_3", col("rev_mc"))
          .otherwise(0L)).as("nation_rev_mc"),
          sum(col("rev_mc")).as("total_rev_mc"))
        .withColumn("mkt_share",
          col("nation_rev_mc").cast("double") /
            col("total_rev_mc").cast("double"))
    },
      """WITH vol AS (
           SELECT CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT) *
               (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_mc,
             sn.n_name AS supp_nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
           WHERE p_type = 'ECONOMY'
             AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
             AND CAST(o_orderdate AS DATE) <= DATE '1997-12-31'
             AND o_custkey IN (
               SELECT c_custkey FROM customer
               JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey
               WHERE r_name = 'ASIA'))
         SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_mc
                         ELSE 0 END) AS BIGINT) AS nation_rev_mc,
           CAST(sum(rev_mc) AS BIGINT) AS total_rev_mc,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_mc
                         ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev_mc) AS DOUBLE) AS mkt_share
         FROM vol GROUP BY 1"""),

    // SQL surface: TPC-H Q10 shape — returned-item top customers.
    // Return-flag + date filters prune both scans; one agg keyed on
    // the customer grain; nation broadcast; deterministic top-20 via
    // exact milli-cent revenue + c_custkey tiebreak.
    QueryDef("sql_q10_returned", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01") &&
          col("o_orderdate").cast("date") < lit("1997-07-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("rev_mc")).as("revenue_mc"))
        .orderBy(col("revenue_mc").desc, col("c_custkey").asc)
        .limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) AS revenue_mc
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1997-07-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue_mc DESC, c_custkey ASC
         LIMIT 20"""),

    // SQL surface: TPC-H Q11 shape — per-key value vs a global scalar
    // threshold (HAVING against a subquery). No partsupp, so part
    // value = Σ price_cents × round(qty) over the two target nations'
    // suppliers. The per-part relation is referenced twice (total +
    // filter) → persisted, part-cardinality. The 1-row total is the
    // doctrine's legal broadcast; the cutoff is RELATIVE — share >
    // 1.5× the mean part share — because TPC-H itself scales Q11's
    // fraction with SF (0.0001/SF): a fixed fraction goes degenerate
    // as part count grows. Exact by cross-multiplication
    // (2·value·n_parts > 3·total), no division anywhere.
    QueryDef("sql_q11_important", (s, dir) => {
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin("NATION_3", "NATION_8")) // populated at every SF
        .select(col("s_suppkey"))
      val perPart = Tables.lineitem(s, dir)
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_quantity")).cast("long")).as("part_value_c"))
        .persist()
      val total = perPart.agg(sum(col("part_value_c")).as("total_c"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_value_c") * col("n_parts") * 2L >
          col("total_c") * 3L)
        .select(col("l_partkey"), col("part_value_c"))
    },
      """WITH pv AS (
           SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
               CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS part_value_c
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name IN ('NATION_3', 'NATION_8')
           GROUP BY 1),
         t AS (SELECT CAST(sum(part_value_c) AS BIGINT) AS total_c,
                 CAST(count(*) AS BIGINT) AS n_parts FROM pv)
         SELECT l_partkey, part_value_c FROM pv, t
         WHERE part_value_c * n_parts * 2 > total_c * 3"""),

    // SQL surface: TPC-H Q12 shape — CASE-sum priority split over a
    // late-shipping join (no shipmode/commit/receipt columns, so
    // "late" = shipped >90 days after the order date, grouped by
    // l_linestatus — same two-group CASE-aggregation plan as Q12).
    QueryDef("sql_q12_shipmode", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01") &&
          col("l_shipdate").cast("date") < lit("1998-01-01"))
        .select(col("l_orderkey"), col("l_linestatus"),
          col("l_shipdate").cast("date").as("ship"))
      l.join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderdate").cast("date").as("o_date")),
        col("l_orderkey") === col("o_orderkey") &&
          col("ship") > date_add(col("o_date"), 90))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    },
      """SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
           AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
           AND CAST(l_shipdate AS DATE)
               > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
         GROUP BY 1"""),

    // SQL surface: TPC-H Q14 shape — promo revenue ratio for one
    // month. Exact milli-cent numerator/denominator; the percent is
    // the only double, derived at the end. Part (3 cols) broadcast per
    // the q19 dim convention.
    QueryDef("sql_q14_promo", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-03-01") &&
          col("l_shipdate").cast("date") < lit("1996-04-01"))
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_mc"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", col("rev_mc"))
          .otherwise(0L)).as("promo_rev_mc"),
          sum(col("rev_mc")).as("total_rev_mc"))
        .withColumn("promo_pct",
          col("promo_rev_mc").cast("double") * 100.0 /
            col("total_rev_mc").cast("double")),
      """SELECT
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_mc ELSE 0 END)
             AS BIGINT) AS promo_rev_mc,
           CAST(sum(rev_mc) AS BIGINT) AS total_rev_mc,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_mc ELSE 0 END)
             AS DOUBLE) * 100.0 / CAST(sum(rev_mc) AS DOUBLE) AS promo_pct
         FROM (SELECT l_partkey,
                 CAST(round(l_extendedprice * 100) AS BIGINT) *
                   (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_mc
               FROM lineitem
               WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
                 AND CAST(l_shipdate AS DATE) < DATE '1996-04-01') l
         JOIN part ON l_partkey = p_partkey"""),

    // SQL surface: TPC-H Q16 shape — supplier count per part attribute
    // with a NOT IN exclusion (negative-balance suppliers stand in for
    // Q16's complaint filter). The distinct (part, supp) pair set is
    // lineitem's surrogate for partsupp; the exclusion is a left-anti
    // against a tiny keyset; countDistinct partial-aggregates
    // map-side before the (brand, size) shuffle.
    QueryDef("sql_q16_supplier_cnt", (s, dir) => {
      val bad = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      val p = Tables.part(s, dir)
        .filter(col("p_type") =!= "PROMO")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      """SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE p_type <> 'PROMO'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY 1, 2"""),

    // Spark 4 VARIANT semi-structured path next to json_funcs' string
    // path: parse once, typed extraction
    QueryDef("variant_funcs", (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        try_variant_get(parse_json(col("props")), "$.k", "long")
          .as("k_long"),
        try_variant_get(parse_json(col("props")), "$.missing", "long")
          .as("missing_long"),
        schema_of_variant(parse_json(col("props"))).as("v_schema")),
      // typed extraction through DuckDB's JSON path; the variant schema
      // of the constant-shape props is a literal
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
           CAST(json_extract_string(props, '$.missing') AS BIGINT)
             AS missing_long,
           'OBJECT<k: BIGINT>' AS v_schema
         FROM events"""),

    // TPC-H Q5 shape: 6-table join, customer and supplier in the SAME
    // nation, revenue per nation for one region. Region/nation broadcast;
    // the fact-side joins shuffle once each on their keys.
    QueryDef("join_q5_shape", (s, dir) =>
      Tables.region(s, dir).filter(col("r_name") === "ASIA")
        .join(Tables.nation(s, dir), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(28, 10))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc),
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name"""),

    // TPC-H Q9 shape (profit per supplier-nation per order-year): the
    // last classic multi-join analytics shape — lineitem joined to a
    // LIKE-filtered part, supplier, orders, and nation. The testdata has
    // no partsupp table, so supply cost is the part's retail price at a
    // fixed 10% margin — same join graph, filter placement, and agg
    // shape as Q9. Part (post-LIKE, small) and nation broadcast; the
    // fact side shuffles once per join key and AQE reorders/broadcasts
    // the rest. Profit accumulates in DECIMAL(28,10) from per-row
    // double-exact products (the Q5 pattern).
    QueryDef("sql_q9_profit", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").like("%bolt%"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - col("p_retailprice") * lit(0.1) * col("l_quantity"))
          .cast(DecimalType(28, 10))).cast("double").as("profit"))
        .orderBy(col("nation").asc, col("o_year").desc),
      """SELECT n_name AS nation,
           CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS o_year,
           CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                         - p_retailprice * 0.1 * l_quantity
                    AS DECIMAL(28,10))) AS DOUBLE) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%bolt%'
         GROUP BY 1, 2"""),

    // TPC-H Q13 shape (customer order-count distribution): left outer
    // join with an ON-clause filter, then a two-level aggregation. The
    // per-customer count reuses the join's c_custkey hash partitioning
    // (zero extra shuffle); the distribution agg is |distinct counts|
    // rows. Filtering orders BEFORE the left join == the ON-clause
    // placement (customers whose only orders are excluded count as 0).
    QueryDef("sql_q13_custdist", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey
                 AND o_orderpriority <> '4-NOT SPECIFIED'
               GROUP BY c_custkey) t
         GROUP BY c_count""")
  )
}
