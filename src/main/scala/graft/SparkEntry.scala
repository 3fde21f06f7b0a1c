package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one entry per implemented operator from SURVEY.md §2.
  * Each query is one [[graft.queries.QueryDef]] (its Spark builder and
  * its DuckDB oracle together) in the family file under `queries/`.
  *
  * Determinism rules (every query must hash-match its DuckDB oracle):
  *  - every window/keep-first op has an explicit total order (tiebreaks);
  *  - money aggregates sum DECIMAL casts, never raw doubles (FP sum order
  *    differs across engines/partitionings);
  *  - timestamps are compared at microsecond precision — oracle SQL casts
  *    DuckDB's TIMESTAMP_NS/_MS to TIMESTAMP;
  *  - no wall clocks: `add_metadata` pins its clock parameter.
  */
object SparkEntry {

  /** Flagship: the reference's crown-jewel semantics (flatten + latest-wins
    * window dedup + MERGE upsert, `data_pipeline.py:177-206`) end-to-end on
    * events. Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("merge_upsert_latest")(spark, "/root/testdata/sf0.001")

  /** Every registered query, once. */
  private[graft] val defs: Seq[QueryDef] = Seq(
    RelationalQueries.defs, TemporalQueries.defs, StatsQueries.defs,
    QualityQueries.defs, IngestQueries.defs, LayoutQueries.defs,
    TextQueries.defs, WebQueries.defs, DedupQueries.defs,
    SimilarityQueries.defs, GraphQueries.defs, MultimodalQueries.defs,
    StreamingQueries.defs).flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryDef.index(defs)(_.build)

  lazy val oracleSql: Map[String, String] = QueryDef.index(defs)(_.oracle)
}
