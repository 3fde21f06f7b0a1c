package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a query's Spark builder and the DuckDB SQL that
  * must produce the same rows, defined side by side.
  *
  * The oracle is passed by name and materialized on first read, so
  * building the registry (which the timed build layer of every bench
  * pass does) never builds oracle text.
  */
final class QueryDef(val name: String,
    val build: (SparkSession, String) => DataFrame, oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

object QueryDef {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): QueryDef = new QueryDef(name, build, oracle)

  /** `defs` keyed by name. A repeated name fails here, naming every
    * duplicate: a map built from pairs would keep one of them silently.
    */
  def index[V](defs: Seq[QueryDef])(value: QueryDef => V): Map[String, V] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> value(d)).toMap
  }
}
