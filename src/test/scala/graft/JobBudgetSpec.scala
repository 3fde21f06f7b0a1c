package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Meta, Quality}
import graft.runner.Pipeline
import graft.sources.{Paginated, Sinks}

/** Spark jobs launched by construction, by the daily load and by the
  * char near-dedup query, pinned: a new eager action in these paths
  * fails here instead of going unnoticed. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** `body`'s result and the call sites of the Spark jobs it launched,
    * from the query trace's recorder. */
  private def jobs[T](body: => T): (T, Seq[String]) = {
    val (out, rec) = graft.tools.Trace.record(spark)(_ => body)
    (out, rec.sites)
  }

  test("Tables.t launches no job on any testdata table") {
    val tables = new File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.length >= 10)
    tables.foreach { t =>
      val (df, sites) = jobs(Tables.t(spark, sf, t))
      assert(df.columns.nonEmpty && sites.isEmpty, t)
    }
    assert(jobs(Tables.events(spark, sf))._2.isEmpty)
  }

  test("fetchAll launches no job before its DataFrame is used") {
    val d = Files.createTempDirectory("graft-budget-pages").toString
    Paginated.writeMockPages(spark, sf, d, pageSize = 50, totalRows = 200)
    val (df, sites) = jobs(Paginated.fetchAll(spark, d))
    assert(sites.isEmpty)
    assert(df.count() === 200L)
  }

  // Measured: 5. The feed's one execution is 2 jobs (the dedup's shuffle
  // stage under AQE, then the checkpoint), the merge's is 1 (its count is
  // observed, not re-run), the audit append writes 1 and the staging
  // write 1. Page probes and parquet read-backs launch none. No job may
  // be a gate collect or a merge count on `Pipeline`'s own call site.
  private val dailyLoadBudget = 5

  test(s"one successful daily load launches at most $dailyLoadBudget jobs") {
    val d = Files.createTempDirectory("graft-budget-load").toString
    Files.createDirectories(Paths.get(s"$d/pages"))
    Seq(1 -> true, 2 -> false).foreach { case (p, hasNext) =>
      val recs = (1 to 100).map { i =>
        val id = (p - 1) * 100 + i
        s"""{"event_id":$id,"user_id":${id % 17},"event_type":"t${id % 3}","value":$id.5}"""
      }
      Files.writeString(Paths.get(s"$d/pages/page_$p.json"),
        s"""{"records":[${recs.mkString(",")}],"pagination":{"has_next":$hasNext}}""")
    }
    val target = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      Paginated.recordSchema.add("load_timestamp", TimestampType)
        .add("source_file", StringType))
    val (out, sites) = jobs {
      val raw = Paginated.fetchAll(spark, s"$d/pages")
      val src = Meta.addMetadata(raw, clock = to_timestamp(lit("2026-01-01 06:00:00")))
      val res = Pipeline.run(spark, src, target,
        Quality.DqContract(Seq("event_id", "user_id", "event_type"),
          Seq("user_id", "event_type")),
        ts = col("load_timestamp"), tiebreak = Seq(col("event_id")),
        tableName = "daily_events", auditPath = s"$d/audit",
        clock = "2026-01-01 06:00:00", sourceFiles = Seq(s"$d/pages"))
      assert(res.status === "SUCCESS")
      Sinks.stagingOverwrite(res.merged, s"$d/staging")
    }
    info(s"daily load: ${sites.length} jobs: ${sites.mkString(", ")}")
    assert(sites.length <= dailyLoadBudget)
    assert(!sites.exists(cs => cs.startsWith("count at Pipeline") ||
      cs.startsWith("collect at Pipeline")), sites)
    assert(out.count() === 51L) // 17 users x 3 event types
  }

  // Measured: 20 for the whole query (build + collect) on a cleared
  // cache. The build itself runs only the docs.count() that sizes the df
  // cap (its scan and its final aggregate, 2 jobs under AQE).
  private val nearDupBuildBudget = 2
  private val nearDupBudget = 20

  test(s"near_dedup_chars: building launches at most $nearDupBuildBudget " +
       s"jobs, the whole query at most $nearDupBudget") {
    spark.catalog.clearCache()
    val (df, build) = jobs(SparkEntry.queries("near_dedup_chars")(spark, sf))
    val (rows, run) = jobs(df.collect())
    info(s"near_dedup_chars: ${build.length} build jobs (${build.mkString(", ")}), " +
      s"${run.length} run jobs")
    assert(build.length <= nearDupBuildBudget)
    assert(build.length + run.length <= nearDupBudget)
    assert(rows.nonEmpty)
    spark.catalog.clearCache()
  }
}
