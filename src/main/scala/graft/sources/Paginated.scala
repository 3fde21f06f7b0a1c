package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Paginated REST source (reference S1, `pipeline/data_pipeline.py:26-65`).
  *
  * The reference loops `?page=N` GETs and stops on (a) empty records array,
  * (b) non-200 → here: missing page file, (c) `pagination.has_next` falsy
  * (`:36-38,42-43,55-56`). We reproduce exactly those stop semantics
  * against a file-backed mock endpoint (SURVEY §7.3: network sources
  * can't be oracle-verified; files can).
  *
  * Scale note: the reference's fetch is inherently driver-side (a REST
  * API is a single upstream); pages land in the raw zone and all
  * subsequent processing is distributed. For a truly parallel source
  * (page count known up front) the DataSource V2 shape is one
  * `InputPartition` per page — the read loop below is the mock-endpoint
  * stand-in with identical stop semantics.
  */
object Paginated {

  val recordSchema: StructType = new StructType()
    .add("event_id", LongType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType)

  val envelopeSchema: StructType = new StructType()
    .add("records", ArrayType(recordSchema))
    .add("pagination", new StructType().add("has_next", BooleanType))

  /** Write a deterministic mock paginated endpoint: `totalRows` events
    * (ordered by event_id) split into pages of `pageSize`, each page a
    * single JSON envelope `{"records": [...], "pagination": {"has_next":
    * ...}}` — the reference's response shape (`data_pipeline.py:40-44,55`).
    */
  def writeMockPages(spark: SparkSession, sfDir: String, pagesDir: String,
                     pageSize: Int = 100, totalRows: Int = 500): Unit = {
    val dir = Paths.get(pagesDir)
    Files.createDirectories(dir)
    val rows = graft.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_id") < totalRows)
      .orderBy("event_id")
      .collect() // mock endpoint generation only — the source itself streams
    rows.grouped(pageSize).zipWithIndex.foreach { case (page, i) =>
      val recs = page.map { r =>
        s"""{"event_id":${r.getLong(0)},"user_id":${r.getLong(1)},""" +
        s""""event_type":"${r.getString(2)}","value":${r.getDouble(3)}}"""
      }.mkString(",")
      val hasNext = (i + 1L) * pageSize < totalRows
      Files.writeString(dir.resolve(s"page_${i + 1}.json"),
        s"""{"records":[$recs],"pagination":{"has_next":$hasNext}}""")
    }
  }

  /** Per-attempt retry policy mirroring the reference's transport
    * resilience (2 retries around each page GET; the real HTTP client
    * would add its 30 s timeout inside `f`). Transient failures retry up
    * to `maxRetries` times with `delayMs` backoff, then rethrow the last
    * error — which the pipeline runner turns into a FAILED audit row.
    */
  def withRetries[T](maxRetries: Int, delayMs: Long = 0L)(f: () => T): T = {
    var last: Throwable = null
    var attempt = 0
    while (attempt <= maxRetries) {
      try return f()
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e
          if (delayMs > 0) Thread.sleep(delayMs)
      }
      attempt += 1
    }
    throw last
  }

  /** `(records size, has_next)` of one page, read on the driver by
    * Spark's own JSON parser with the options and failure handling of
    * `spark.read.schema(envelopeSchema).json(path)`, taking its first row
    * as the Spark-read probe's `head()` did: one envelope per line, NULL
    * for what does not parse (partial rows kept), so a NULL or non-array
    * `records` counts 0 and a NULL or non-boolean `has_next` is false.
    * A page with no envelope throws, as `head()` on no rows did.
    */
  private[graft] def probe(path: String): (Int, Boolean) = {
    val options = new JSONOptions(Map.empty[String, String], "UTC", "_corrupt_record")
    val parser = new JacksonParser(envelopeSchema, options, allowArrayAsStructs = true, Nil)
    val rows = new FailureSafeParser[String](
      line => parser.parse(line, CreateJacksonParser.string, UTF8String.fromString),
      options.parseMode, envelopeSchema, options.columnNameOfCorruptRecord)
    val text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    val env = text.split("\\r\\n|\\r|\\n").iterator.flatMap(rows.parse).next()
    val n = if (env.isNullAt(0)) 0 else env.getArray(0).numElements
    val page = if (env.isNullAt(1)) null else env.getStruct(1, 1)
    (n, page != null && !page.isNullAt(0) && page.getBoolean(0))
  }

  /** Fetch loop with the reference's stop conditions; returns the unioned
    * record set as a DataFrame. Each page is probed on the driver under
    * [[withRetries]], as the reference GETs each page; the kept pages are
    * then read by Spark, so no Spark job runs until the result is used.
    */
  def fetchAll(spark: SparkSession, pagesDir: String,
               maxPages: Int = 10000, maxRetries: Int = 2): DataFrame = {
    val keep = scala.collection.mutable.ListBuffer.empty[String]
    var p = 1
    var continue = true
    while (continue && p <= maxPages) {
      val path = s"$pagesDir/page_$p.json"
      if (!Files.exists(Paths.get(path))) continue = false // non-200 analog (:36-38)
      else {
        val (n, hasNext) = withRetries(maxRetries)(() => probe(path))
        if (n == 0) continue = false                       // empty page (:42-43)
        else {
          keep += path
          if (!hasNext) continue = false                   // has_next falsy (:55-56)
        }
      }
      p += 1
    }
    if (keep.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], recordSchema)
    else
      spark.read.schema(envelopeSchema).json(keep.toSeq: _*)
        .select(explode(col("records")).as("r"))
        .select(col("r.*"))
  }
}
