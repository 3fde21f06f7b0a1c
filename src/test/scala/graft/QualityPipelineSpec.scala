package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Quality
import graft.runner.Pipeline

class QualityPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val contract = Quality.DqContract(Seq("k", "v"), Seq("k"))

  private def report(df: org.apache.spark.sql.DataFrame) =
    Quality.dqReport(df, contract).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  test("empty input fails empty_input and low_volume (ref :94-96,119-120)") {
    val r = report(Seq.empty[(Long, String)].toDF("k", "v"))
    assert(r("empty_input") === ((0L, false)))
    assert(r("low_volume") === ((0L, false)))
    assert(r("null_keys") === ((0L, true)))
  }

  test("missing required column is reported (ref :97-103)") {
    val r = report(Seq((1L, "x")).toDF("k", "other"))
    assert(r("required_columns") === ((1L, false)))
  }

  test("null keys and duplicate keys counted in one pass (ref :105-116)") {
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(1L), "c"), (Some(2L), "d"),
      (Some(3L), "e")).toDF("k", "v")
    val r = report(df)
    assert(r("null_keys") === ((1L, false)))
    assert(r("duplicate_keys") === ((1L, false))) // NULL group counts once too
    assert(r("low_volume") === ((5L, true)))
  }

  test("observedChecks collects DQ metrics during the sink action — no extra scan") {
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("k", "v")
    val (observed, obs) = Quality.observedChecks(df, contract)
    // the metrics ride the caller's own action (here: the sink write)
    val out = java.nio.file.Files.createTempDirectory("graft-obs").toString
    observed.write.mode("overwrite").parquet(out)
    val verdict = Quality.observedVerdict(obs, contract)
      .map { case (name, metric, ok) => name -> ((metric, ok)) }.toMap
    assert(verdict("empty_input") === ((3L, true)))
    assert(verdict("null_keys") === ((1L, false))) // one null key
    assert(verdict("low_volume") === ((3L, false))) // < 5 rows
    // and the written data is untouched by the observation
    assert(spark.read.parquet(out).count() === 3L)
  }

  test("pipeline: fatal DQ issue skips load and audits FAILED (ref :252-262)") {
    val out = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val source = Seq.empty[(Long, String, Long)].toDF("id", "key", "v")
      .select(col("id"), col("key"), col("v"))
    val target = Seq((1L, "a", 1L)).toDF("id", "key", "v")
    val res = Pipeline.run(spark, source, target,
      Quality.DqContract(Seq("id", "key"), Seq("key")),
      ts = col("v"), tiebreak = Seq(col("id")),
      tableName = "t", auditPath = s"$out/audit")
    assert(res.status === "FAILED")
    val audit = res.audit.collect()
    assert(audit.length === 1)
    assert(audit.head.getAs[String]("status").startsWith("FAILED:"))
    assert(audit.head.getAs[Long]("record_count") === 0L)
    // target untouched
    assert(res.merged.count() === 1)
  }

  test("pipeline: exception during merge still audits FAILED (ref :266-271)") {
    val out = java.nio.file.Files.createTempDirectory("graft-audit3").toString
    // poison the ts column with a deterministic UDF that throws at
    // execution time: the latest-wins dedup orders by it, so the failure
    // surfaces in the feed's execution, before the gate has its counts.
    // spark.range (not Seq.toDF) keeps the source out of LocalRelation
    // reach — ConvertToLocalRelation would otherwise evaluate the UDF
    // eagerly while the plan is optimized.
    val boom = udf((id: Long) => if (id == 12L) throw new RuntimeException("injected") else id)
    val source = spark.range(10, 15).toDF("id")
      .withColumn("key", concat(lit("k"), col("id")))
      .withColumn("v", boom(col("id")))
    val target = Seq((1L, "z", 1L)).toDF("id", "key", "v")
    val thrown = intercept[Throwable] {
      Pipeline.run(spark, source, target,
        Quality.DqContract(Seq("id", "key"), Seq("key"), minRows = 1),
        ts = col("v"), tiebreak = Seq(col("id")),
        tableName = "t", auditPath = s"$out/audit")
    }
    info("thrown: " + thrown.toString.take(300))
    val audit = spark.read.parquet(s"$out/audit").collect()
    assert(audit.length === 1)
    assert(audit.head.getAs[String]("status").startsWith("FAILED:"))
    assert(audit.head.getAs[Long]("record_count") === 0L)
  }

  test("pipeline: duplicate keys dedup-and-continue (ref :256-258)") {
    val out = java.nio.file.Files.createTempDirectory("graft-audit2").toString
    val source = Seq((10L, "a", 5L), (11L, "a", 9L), (12L, "b", 1L))
      .toDF("id", "key", "v")
    val target = Seq((1L, "c", 1L)).toDF("id", "key", "v")
    val res = Pipeline.run(spark, source, target,
      Quality.DqContract(Seq("id", "key"), Seq("key"), minRows = 1),
      ts = col("v"), tiebreak = Seq(col("id")),
      tableName = "t", auditPath = s"$out/audit")
    assert(res.status === "SUCCESS")
    val rows = res.merged.as[(Long, String, Long)].collect().toSet
    // latest per key from source (id=11 wins for 'a'), target-only 'c' kept
    assert(rows === Set((11L, "a", 9L), (12L, "b", 1L), (1L, "c", 1L)))
  }

  test("pipeline: audit log keeps every load's row (ref :219-242 appends)") {
    val out = java.nio.file.Files.createTempDirectory("graft-audit4").toString
    val contract = Quality.DqContract(Seq("id", "key"), Seq("key"), minRows = 1)
    def load(source: org.apache.spark.sql.DataFrame, clock: String) =
      Pipeline.run(spark, source, Seq((1L, "c", 1L)).toDF("id", "key", "v"),
        contract, ts = col("v"), tiebreak = Seq(col("id")),
        tableName = "t", auditPath = s"$out/audit", clock = clock)
    val ok = load(Seq((10L, "a", 5L), (11L, "b", 9L)).toDF("id", "key", "v"),
      "2026-01-01 06:00:00")
    assert(ok.status === "SUCCESS")
    val bad = load(Seq((12L, None, 1L), (13L, Some("d"), 2L)).toDF("id", "key", "v"),
      "2026-01-02 06:00:00")
    assert(bad.status === "FAILED")
    val rows = bad.audit.orderBy("load_timestamp")
      .select(col("status"), col("record_count"), col("load_timestamp").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows === Seq(
      ("SUCCESS", 3L, "2026-01-01 06:00:00"),
      ("FAILED: null_keys", 0L, "2026-01-02 06:00:00")))
  }

  private val loadContract = Quality.DqContract(Seq("id", "key"), Seq("key"))

  private def load(source: org.apache.spark.sql.DataFrame,
                   target: org.apache.spark.sql.DataFrame,
                   contract: Quality.DqContract = loadContract,
                   tiebreak: Seq[org.apache.spark.sql.Column] = Seq(col("id"))) = {
    val out = java.nio.file.Files.createTempDirectory("graft-load").toString
    val res = Pipeline.run(spark, source, target, contract,
      ts = col("v"), tiebreak = tiebreak,
      tableName = "t", auditPath = s"$out/audit")
    (res, s"$out/audit")
  }

  private def auditRow(path: String) = {
    val rows = spark.read.parquet(path).collect()
    assert(rows.length === 1)
    (rows.head.getAs[String]("status"), rows.head.getAs[Long]("record_count"))
  }

  test("pipeline gate: its metrics equal dqReport's (NULL group and duplicates)") {
    val df = Seq((Some(1L), "a", 1L), (None, "b", 2L), (Some(1L), "c", 3L),
      (None, "d", 4L), (Some(2L), "e", 5L), (Some(3L), "f", 6L))
      .toDF("k", "v", "ts")
    val (feed, checks) = Pipeline.gate(df, contract, col("ts"), Seq(col("v")))
    val expected = Quality.dqReport(df, contract).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(checks === expected)
    assert(checks.find(_._1 == "duplicate_keys").get._2 === 2L) // 1 twice, NULL twice
    // the materialized feed is the latest-wins dedup, NULL group once
    assert(feed.as[(Option[Long], String, Long)].collect().toSet ===
      Set((Some(1L), "c", 3L), (None, "d", 4L), (Some(2L), "e", 5L),
        (Some(3L), "f", 6L)))
  }

  test("pipeline: an empty feed, local or fetched, audits FAILED: empty_input,low_volume") {
    val target = Seq((1L, "a", 1L)).toDF("id", "key", "v")
    val local = Seq.empty[(Long, String, Long)].toDF("id", "key", "v")
    val pages = java.nio.file.Files.createTempDirectory("graft-empty-pages")
    java.nio.file.Files.writeString(pages.resolve("page_1.json"),
      """{"records":[],"pagination":{"has_next":false}}""")
    val fetched = graft.sources.Paginated.fetchAll(spark, pages.toString)
      .select(col("event_id").as("id"), col("event_type").as("key"),
        col("user_id").as("v"))
    Seq("local" -> local, "fetched" -> fetched).foreach { case (name, source) =>
      val (res, audit) = load(source, target)
      assert(res.status === "FAILED", name)
      assert(auditRow(audit) === (("FAILED: empty_input,low_volume", 0L)), name)
      assert(res.merged.count() === 1L, name) // target untouched
    }
  }

  test("pipeline: a missing required column audits FAILED: required_columns without a throw") {
    val source = Seq((10L, "a", 5L), (11L, "a", 9L), (12L, "b", 1L),
      (13L, "c", 2L), (14L, "d", 3L)).toDF("id", "key", "v")
    val target = Seq((1L, "z", 1L)).toDF("id", "key", "v")
    val contract = Quality.DqContract(Seq("id", "key", "extra"), Seq("key"))
    // also when the dedup's tiebreak names the missing column
    Seq(Seq(col("id")), Seq(col("extra"))).foreach { tiebreak =>
      val (res, audit) = load(source, target, contract, tiebreak)
      assert(res.status === "FAILED")
      assert(auditRow(audit) === (("FAILED: required_columns", 0L)))
    }
  }

  test("pipeline: exception during the merge's execution (poisoned target) audits FAILED") {
    val boom = udf((id: Long) => if (id == 3L) throw new RuntimeException("injected") else id)
    val target = spark.range(0, 5).toDF("id")
      .withColumn("key", concat(lit("t"), col("id")))
      .withColumn("v", boom(col("id")))
    val source = Seq((10L, "a", 5L), (11L, "b", 9L)).toDF("id", "key", "v")
    val out = java.nio.file.Files.createTempDirectory("graft-audit5").toString
    val thrown = intercept[Throwable] {
      Pipeline.run(spark, source, target, loadContract.copy(minRows = 1),
        ts = col("v"), tiebreak = Seq(col("id")),
        tableName = "t", auditPath = s"$out/audit")
    }
    assert(thrown.toString.contains("injected") ||
      Option(thrown.getCause).exists(_.toString.contains("injected")))
    val (status, n) = auditRow(s"$out/audit")
    assert(status.startsWith("FAILED:") && n === 0L)
  }

  test("pipeline: the SUCCESS record_count is the merged frame's row count") {
    val source = Seq((10L, "a", 5L), (11L, "a", 9L), (12L, "b", 1L),
      (13L, "c", 2L), (14L, "d", 3L), (15L, "e", 4L)).toDF("id", "key", "v")
    val target = Seq((1L, "c", 1L), (2L, "x", 1L), (3L, "y", 1L)).toDF("id", "key", "v")
    val (res, audit) = load(source, target)
    assert(res.status === "SUCCESS")
    // 5 distinct feed keys, plus the 2 target keys the feed does not carry
    assert(auditRow(audit) === (("SUCCESS", 7L)))
    assert(res.merged.count() === 7L)
  }
}
