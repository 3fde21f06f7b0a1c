package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Sinks (reference S2/S3/S4, `pipeline/data_pipeline.py:45-53,126-152,
  * 219-242`). Each sink function writes and returns the read-back
  * DataFrame so the driver contract can verify sink round-trips.
  */
object Sinks {

  /** S2: raw-zone JSON sink, hive-partitioned by ingest date
    * (`raw_api_data/<name>/year=/month=/day=/...`, `data_pipeline.py:47-49`).
    * Partition pruning on year/month/day re-reads is what this layout
    * buys at 100 TB (SURVEY §4.1).
    */
  def rawPartitionedSink(events: DataFrame, outPath: String): DataFrame = {
    events.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        year(col("ts")).cast("int").as("year"),
        month(col("ts")).cast("int").as("month"),
        dayofmonth(col("ts")).cast("int").as("day"))
      // co-locate each hive partition into one task: without this every
      // task writes a file into every date dir (tasks × dates small files)
      .repartition(col("year"), col("month"), col("day"))
      .write.partitionBy("year", "month", "day")
      .mode("overwrite").json(outPath)
    events.sparkSession.read.json(outPath)
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), col("value").cast("double"),
        col("year").cast("int"), col("month").cast("int"),
        col("day").cast("int"))
  }

  /** S3: staging sink — one full overwrite, schema carried by parquet
    * (`WRITE_TRUNCATE` + autodetect, `data_pipeline.py:140-144`). The
    * overwrite replaces every file under `outPath`, so a rerun leaves the
    * same rows and none of the earlier files (the reference's
    * truncate-reload, SURVEY §4.1); `SinksSpec` proves that on a rerun.
    */
  def stagingOverwrite(df: DataFrame, outPath: String): DataFrame = {
    df.write.mode("overwrite").parquet(outPath)
    Tables.parquet(df.sparkSession, outPath)
  }

  /** ORC round-trip: column format parity beyond parquet — types carry
    * exactly (no text serialization involved).
    */
  def orcRoundTrip(df: DataFrame, outPath: String): DataFrame = {
    df.write.mode("overwrite").orc(outPath)
    df.sparkSession.read.orc(outPath)
  }

  /** CSV round-trip with an explicit read schema (CSV carries no types).
    * Doubles survive via shortest-repr formatting; timestamps via a
    * microsecond-precision format pattern on both write and read.
    */
  def csvRoundTrip(df: DataFrame, outPath: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    df.write.mode("overwrite")
      .option("header", "true").option("timestampFormat", tsFmt)
      .csv(outPath)
    df.sparkSession.read
      .option("header", "true").option("timestampFormat", tsFmt)
      .schema(df.schema)
      .csv(outPath)
  }

  /** Small-file compaction: rewrite a many-small-files layout into a few
    * right-sized files and return the read-back data (losslessness is
    * what the oracle verifies; file counts are spec-asserted). The
    * compacting read->write uses `coalesce`, which merges partitions
    * WITHOUT a shuffle — the whole rewrite is one pass over the bytes.
    * This is the maintenance job that keeps a 100 TB table's file count
    * (and so its driver planning time and open-file overhead) bounded as
    * micro-batch appends accumulate.
    */
  def compactRoundTrip(df: DataFrame, outPath: String,
                       smallFiles: Int, targetFiles: Int): DataFrame = {
    val spark = df.sparkSession
    df.repartition(smallFiles) // simulate fragmented micro-batch appends
      .write.mode("overwrite").parquet(s"$outPath/small")
    Tables.parquet(spark, s"$outPath/small")
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(s"$outPath/compact")
    Tables.parquet(spark, s"$outPath/compact")
  }

  /** S4: append-only audit sink with ARRAY<STRING> source_files column
    * (`data_pipeline.py:219-242`): every call adds its rows and keeps the
    * rows of earlier calls, as the reference's audit log does, and
    * returns the whole log. `fresh=true` clears the path first, for a
    * registry entry that must return the same rows on every run.
    */
  def auditAppend(spark: SparkSession, outPath: String,
                  rows: Seq[(String, Long, String, String, Seq[String])],
                  fresh: Boolean = false): DataFrame = {
    if (fresh) graft.ops.Distribute.deleteRecursively(new java.io.File(outPath))
    rows.foreach { case (table, n, status, ts, files) =>
      spark.range(1).select(
          lit(table).as("table_name"),
          lit(n).as("record_count"),
          lit(status).as("status"),
          to_timestamp(lit(ts)).as("load_timestamp"),
          // explicit cast: an empty array() literal would otherwise
          // infer a non-string element type and corrupt the appended schema
          array(files.map(lit): _*).cast("array<string>").as("source_files"))
        .write.mode("append").parquet(outPath)
    }
    Tables.parquet(spark, outPath)
  }
}
