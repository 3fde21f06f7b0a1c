package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  * All operators take `(SparkSession, sfDir)` and read via these so the
  * same code runs at any scale factor — and, on a real cluster, against
  * any parquet root.
  */
object Tables {
  /** Registration-source table recorder ([[graft.tools.Scaling]]): when
    * a caller installs a set here, every loader call records its table
    * name. This is the REGISTRATION-time evidence of which inputs a
    * query reads — it covers streaming readouts and post-loop
    * LogicalRDD tails whose RETURNED plan carries no file scan, so
    * their honest-decade derivation no longer falls back to null
    * (VERDICT r13 item 6). ThreadLocal so a recording sweep can never
    * observe another thread's loads.
    */
  private[graft] val recording =
    new ThreadLocal[scala.collection.mutable.Set[String]]

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    Option(recording.get()).foreach(_ += name)
    parquet(spark, s"$dir/$name.parquet")
  }

  /** `spark.read.parquet(paths)` without its schema-inference job: the
    * footer Spark's non-merging inference would read is read here, on
    * the driver, with Spark's own reader and converter, and handed to
    * the reader as its schema. Where no footer exists (an empty
    * directory), Spark's own read runs and raises its own error.
    * The price is a second driver-side listing of `paths` (the reader
    * lists them again), in place of a job that reads one footer.
    * Schema-merging reads keep `spark.read.option("mergeSchema", ...)`.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    GraftParquetFooter.schema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  def region(s: SparkSession, d: String)     = t(s, d, "region")
  def nation(s: SparkSession, d: String)     = t(s, d, "nation")
  def customer(s: SparkSession, d: String)   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)   = t(s, d, "supplier")
  def part(s: SparkSession, d: String)       = t(s, d, "part")
  def orders(s: SparkSession, d: String)     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)   = t(s, d, "lineitem")
  /** events.parquet has stored `ts` two ways across driver testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4's parquet reader
    * rejects outright — read as raw nanos via legacy.parquet.nanosAsLong
    * and truncate to microseconds, the same truncation DuckDB applies on
    * `CAST(ts AS TIMESTAMP)`) and TIMESTAMP(MICROS, isAdjustedToUTC=
    * false) (which Spark reads as TIMESTAMP_NTZ — a type
    * `withWatermark` rejects). Both normalize here to Spark's native
    * TimestampType; sessions run UTC, so the NTZ wall-time
    * reinterpretation is the identity on the stored micros and oracles
    * line up either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          raw("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String)  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")
}
