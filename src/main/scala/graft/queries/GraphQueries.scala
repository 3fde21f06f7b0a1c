package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._

/** Graph queries: PageRank, walks, BFS and shortest paths, k-core,
  * triangles, link prediction and recursive rollups.
  */
object GraphQueries {

  val defs: Seq[QueryDef] = Seq(
    // WITH RECURSIVE transitive closure over the decimal part tree
    // (the declarative sibling of bom_rollup's iterative loop) —
    // Spark 4's UnionLoop executes the fixpoint; per-(root, depth)
    // rollup keeps the result bounded by the hierarchy, not the closure
    QueryDef("sql_recursive_cte", (s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part")
      s.sql("""WITH RECURSIVE tree AS (
          SELECT p_partkey AS root, p_partkey AS node, 0 AS depth
          FROM part WHERE p_partkey < 10
          UNION ALL
          SELECT t.root, p.p_partkey AS node, t.depth + 1 AS depth
          FROM tree t JOIN part p ON p.p_partkey div 10 = t.node
          WHERE t.depth < 8)
        SELECT root, depth, count(*) AS n_nodes,
          CAST(sum(node) AS BIGINT) AS sum_keys
        FROM tree GROUP BY root, depth""")
    },
      // the same fixpoint, DuckDB's native recursive CTE
      """WITH RECURSIVE tree AS (
           SELECT p_partkey AS root, p_partkey AS node, 0 AS depth
           FROM part WHERE p_partkey < 10
           UNION ALL
           SELECT t.root, p.p_partkey AS node, t.depth + 1 AS depth
           FROM tree t JOIN part p ON p.p_partkey // 10 = t.node
           WHERE t.depth < 8)
         SELECT root, depth, count(*) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS sum_keys
         FROM tree GROUP BY root, depth"""),

    // k=3 core of the customer-supplier graph, iterative degree peel
    QueryDef("k_core", (s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      Graph.kCore(s, edges, k = 3)
    },
      // unrolled peel; idempotent at fixpoint so extra rounds are no-ops
      Graph.kCoreOracleSql(
      """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0""", k = 3)),

    // integer-exact PageRank over the customer–supplier order graph:
    // fixed 10 iterations, scaled-integer mass (bit-reproducible)
    QueryDef("pagerank", (s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      Graph.pageRank(s, edges)
    },
      // the same integer PageRank recurrence, unrolled (Graph.pageRankOracleSql)
      Graph.pageRankOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0""")),

    // deterministic node2vec-style walk corpus: a 4-step hash-driven
    // walk from every node of the customer-supplier graph
    QueryDef("graph_walks", (s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 9 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      Graph.graphWalks(s, edges)
    },
      // same adjacency ranking + per-step hash, unrolled CTE chain
      Graph.graphWalksOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 9 = 0""")),

    // weighted shortest paths (4 Bellman-Ford rounds): min total
    // quantity from the seed customers over the order graph
    QueryDef("shortest_path", (s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .agg(min(col("l_quantity").cast("long")).as("w"))
      val seeds = edges.filter(
          substring(col("src"), 2, 20).cast("long") % 97 === 0)
        .select(col("src").as("node"))
      Graph.shortestPaths(s, edges, seeds)
    },
      // the same min-weight edges and unrolled relaxation rounds
      Graph.shortestPathsOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst,
                min(CAST(l_quantity AS BIGINT)) AS w
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0 GROUP BY 1, 2""",
      """SELECT DISTINCT src AS node FROM e0
         WHERE CAST(substr(src, 2) AS BIGINT) % 97 = 0""")),

    // multi-source BFS over the same order graph as pagerank: min hop
    // from the seed customers within 4 hops (blast-radius query)
    QueryDef("graph_bfs", (s, dir) => {
      val edges = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 5 === 0)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      val seeds = edges.filter(
          substring(col("src"), 2, 20).cast("long") % 97 === 0)
        .select(col("src").as("node"))
      Graph.bfsHops(s, edges, seeds)
    },
      // the same graph construction, recursive-CTE min-hop (Graph.bfsOracleSql)
      Graph.bfsOracleSql(
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey % 5 = 0""",
      """SELECT DISTINCT src AS node FROM e0
         WHERE CAST(substr(src, 2) AS BIGINT) % 97 = 0""")),

    // per-node triangle count over the part co-purchase graph (parts
    // co-ordered in the same order) — degree-ordered orientation, each
    // triangle counted at exactly one vertex
    QueryDef("triangle_count", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val edges = li.select(col("k"), col("l_partkey").as("a"))
        .join(li.select(col("k"), col("l_partkey").as("b")), Seq("k"))
        .select(col("a"), col("b"))
      Graph.triangleCount(s, edges)
    },
      // same co-purchase edges, canonical x<y<z 3-way join (Graph.triangleOracleSql)
      Graph.triangleOracleSql(
      """SELECT l1.l_partkey AS a, l2.l_partkey AS b
         FROM lineitem l1 JOIN lineitem l2
           ON l1.l_orderkey = l2.l_orderkey
         WHERE l1.l_orderkey % 3 = 0""")),

    // bill-of-materials requirement explosion over the decimal-digit
    // part hierarchy (parent = key div 10): total transitive component
    // units per assembly — integer sum-product closure, 5 levels
    QueryDef("bom_rollup", (s, dir) => {
      val ed = Tables.part(s, dir).filter(col("p_partkey") >= 10)
        .select(expr("p_partkey div 10").as("parent"),
          col("p_partkey").as("child"),
          (col("p_partkey") % 5 + 1).cast("int").as("qty"))
      Graph.bomRollup(s, ed, levels = 5)
    },
      // same digit-hierarchy edges, frontier unrolled 5 levels
      Graph.bomRollupOracleSql(
      """SELECT p_partkey // 10 AS parent, p_partkey AS child,
                CAST(p_partkey % 5 + 1 AS INT) AS qty
         FROM part WHERE p_partkey >= 10""", levels = 5)),

    // neighborhood-Jaccard link prediction on the co-purchase graph:
    // capped wedge candidates (deterministic per-center degree bound —
    // the hub mitigation the oracle replays), non-edge anti-join
    QueryDef("link_predict", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey").as("k"), col("l_partkey"))
      val edges = li.select(col("k"), col("l_partkey").as("a"))
        .join(li.select(col("k"), col("l_partkey").as("b")), Seq("k"))
        .select(col("a"), col("b"))
      Graph.linkPredict(s, edges, minCommon = 5L, maxCenterDegree = 64)
    },
      // capped wedge candidates (same deterministic per-center bound),
      // anti-join off the edge set, one rounded division
      Graph.linkPredictOracleSql(
      """SELECT l1.l_partkey AS a, l2.l_partkey AS b
         FROM lineitem l1 JOIN lineitem l2
           ON l1.l_orderkey = l2.l_orderkey
         WHERE l1.l_orderkey % 3 = 0""", minCommon = 5L,
      maxCenterDegree = 64))
  )
}
