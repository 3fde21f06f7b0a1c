package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming

/** The streaming harness is file-backed (several real micro-batches); each
  * op must converge to its batch equivalent regardless of how the files
  * were batched into triggers.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def scratch(name: String) =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString + "/src"

  private def events = Tables.events(spark, sf)
    .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
      col("value"), col("props"))

  test("fixture cache is semantic, not path-keyed: reusing a scratch " +
       "path with DIFFERENT input rewrites the fixture (no stale reuse, " +
       "no silent NULL columns)") {
    val dir = scratch("refresh")
    val half = events.filter(col("event_id") % 2 === 0)
    val first = Streaming.streamingDedup(spark, half, dir)
    assert(first.count() === half.count())
    // same path, full feed: a path-keyed cache would stream the stale
    // half-feed fixture and silently undercount
    val second = Streaming.streamingDedup(spark, events, dir)
    assert(second.count() === events.count())
    // and same path + same input reuses without rewriting (still correct)
    val third = Streaming.streamingDedup(spark, events, dir)
    assert(third.count() === events.count())
  }

  test("streamingDedup of the doubled feed equals the feed") {
    val out = Streaming.streamingDedup(spark, events, scratch("dedup"))
    assert(out.count() === events.count())
    assert(out.select("event_id").distinct().count() === events.count())
  }

  test("streamingDedupWatermark of the doubled feed equals the feed " +
       "(delay wider than the span: the closed-feed exactness contract)") {
    val out = Streaming.streamingDedupWatermark(spark, events, scratch("wmdedup"))
    assert(out.count() === events.count())
    assert(out.select("event_id").distinct().count() === events.count())
  }

  test("dropDuplicatesWithinWatermark under a TIGHT delay: state evicts " +
       "past the watermark and a late duplicate is dropped — the bounded-" +
       "state contract streaming_dedup_watermark ships under") {
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft-wmtight").toString
    // base well above epoch: the initial watermark is epoch 0, so rows AT
    // epoch 0 would count as late before any data has been seen
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def ts(h: Int) = new Timestamp(base + h * 3600000L)
    def write(rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("event_id", "ts").coalesce(1)
        .write.mode("append").parquet(dir)

    // batch 1: keys 1..50 at hour 0, plus an in-window duplicate of key 1
    write((1L to 50L).map(k => (k, ts(0))) :+ (1L, ts(0)))
    val name = "graft_wm_tight"
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: hour 100 advances the watermark to ~hour 99
      write(Seq((1000L, ts(100))))
      q.processAllAvailable()
      // batch 3: duplicate of key 2 arrives LATE (hour 0 << watermark):
      // dropped by the watermark, not re-emitted; fresh key rides along
      write(Seq((2L, ts(0)), (2000L, ts(101))))
      q.processAllAvailable()
      // batch 4: one more tick so eviction of the hour-0 keys commits
      write(Seq((3000L, ts(102))))
      q.processAllAvailable()

      val outn = spark.table(name).count()
      assert(outn === 53L) // 50 first-copies + 1000, 2000, 3000; no dup of 1 or 2
      assert(spark.table(name).filter(col("event_id") === 2L).count() === 1L)

      val stateProgress = q.recentProgress.filter(_.stateOperators.nonEmpty)
      // the late duplicate was dropped by the watermark, not state lookup
      assert(stateProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum >= 1L)
      // bounded state: the hour-0 keys (51 state rows) are GONE — only
      // keys inside the lateness window remain
      val lastState = stateProgress.last.stateOperators.head.numRowsTotal
      assert(lastState < 10L,
        s"state still holds $lastState rows; eviction did not engage")
    } finally q.stop()
  }

  test("streamingSketchQuantiles equals the batch KMV sketch over the " +
       "same feed (merge identity under micro-batch slicing)") {
    val live = Streaming.streamingSketchQuantiles(spark, events,
      scratch("sketchq"))
      .select("event_type", "sample_n", "p25", "p50", "p75", "p95")
      .as[(String, Long, Double, Double, Double, Double)].collect().toSet
    val batch = ops.Profile.sketchQuantiles(events,
      group = col("event_type"), id = col("event_id"),
      value = col("value"))
      .withColumnRenamed("g", "event_type")
      .select("event_type", "sample_n", "p25", "p50", "p75", "p95")
      .as[(String, Long, Double, Double, Double, Double)].collect().toSet
    assert(live === batch)
    assert(live.nonEmpty)
  }

  test("streamingKsDrift equals batch ksDrift — the maintained pair-" +
       "count table lands the exact statistic under micro-batch slicing") {
    val live = Streaming.streamingKsDrift(spark, events, scratch("ksd"))
      .as[(Long, Long, Long, Double, Long, Boolean)].collect().toSeq
    val batch = ops.Profile.ksDrift(events,
      side = ops.Profile.evenOddDaySide(col("ts")),
      value = col("value"))
      .as[(Long, Long, Long, Double, Long, Boolean)].collect().toSeq
    assert(live === batch)
    assert(live.head._3 > 0, "degenerate: zero KS gap on the fixture")
  }

  test("streamingDsir equals batch dsirAffinity — 256-row state lands " +
       "the exact batch frequency tables under any slicing") {
    val docs = Tables.documents(spark, sf)
    val live = Streaming.streamingDsir(spark, docs, scratch("dsir"))
      .select("doc_id", "n_words", "affinity")
      .as[(Long, Long, Long)].collect().toSet
    val batch = ops.Text.dsirAffinity(docs)
      .select("doc_id", "n_words", "affinity")
      .as[(Long, Long, Long)].collect().toSet
    assert(live === batch)
    assert(live.nonEmpty)
  }

  test("windowedCounts equals the batch window aggregation") {
    val out = Streaming.windowedCounts(spark, events, scratch("win"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .select(col("window.start"), col("event_type"), col("n"), col("sum_value"))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(out === batch)
  }

  test("streamStreamJoin equals the batch interval join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssjoin").toString
    val out = Streaming.streamStreamJoin(spark, events, 3600L, dir)
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().toSet
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = v.join(p, col("user_id") === col("pu") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 3600 SECONDS"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"))
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().toSet
    assert(out === batch)
    assert(out.nonEmpty)
  }

  test("interval-merge state is permutation-invariant and equals gaps-and-islands") {
    val gap = 10L // seconds
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val us = List.fill(1 + rnd.nextInt(40))(rnd.nextInt(400).toLong * 1000000L)
      // ground truth: sorted fold (classic gaps-and-islands)
      val sorted = us.sorted
      val truth = sorted.tail.foldLeft(List((sorted.head, sorted.head, 1L))) {
        case ((s, e, n) :: acc, t) =>
          if (t / 1000000L - e / 1000000L > gap) (t, t, 1L) :: (s, e, n) :: acc
          else (s, t, n + 1L) :: acc
        case (Nil, t) => List((t, t, 1L))
      }.map { case (s, e, n) => Streaming.Sess(s, e, n) }.toSet
      // random-order fold through the order-independent merge
      val shuffled = rnd.shuffle(us)
      val merged = shuffled.foldLeft(List.empty[Streaming.Sess])(
        (acc, t) => Streaming.mergeEvent(acc, t, gap)).toSet
      assert(merged === truth, s"events=$us order=$shuffled")
    }
  }

  test("streamingAnomaly flags exactly the batch anomaly set, statelessly") {
    val orders = Tables.orders(spark, sf)
    val out = Streaming.streamingAnomaly(spark, orders, scratch("anomaly"))
      .select(col("o_orderkey")).as[Long].collect().toSet
    val batch = graft.ops.Profile.anomalyOutliers(orders,
        col("o_orderpriority"), col("o_totalprice"),
        idCols = Seq("o_orderkey"), num = 3, den = 2)
      .select(col("o_orderkey")).as[Long].collect().toSet
    assert(out === batch)
    assert(out.nonEmpty)
  }

  test("streamingAnomaly equals the batch flag set at sf0.1 (10x gate scale)") {
    // the two registered anomaly paths share Profile.anomalyStats; this
    // pins them identical at the scale where float noise or partial-agg
    // ordering would first diverge — exact decimal arithmetic means the
    // flag SETS match, not just their counts
    val orders = Tables.orders(spark, "/root/testdata/sf0.1")
    val out = Streaming.streamingAnomaly(spark, orders, scratch("anomaly01"))
      .select(col("o_orderkey")).as[Long].collect().toSet
    val batch = graft.ops.Profile.anomalyOutliers(orders,
        col("o_orderpriority"), col("o_totalprice"),
        idCols = Seq("o_orderkey"), num = 3, den = 2)
      .select(col("o_orderkey")).as[Long].collect().toSet
    assert(out === batch)
    assert(out.nonEmpty)
  }

  test("streamingCurationEvents on an EMPTY feed returns an empty " +
       "verdict table, like the batch front door (ADVICE r12)") {
    // an empty feed leaves only _spark_metadata in the staging sink;
    // before the explicit-schema fix the readout threw a parquet
    // schema-inference error instead of returning zero verdicts
    val raw = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .limit(0)
    val render = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("event_id").as("doc_id"),
        coalesce(col("event_type"), lit("null")).as("text"))
    val out = Streaming.streamingCurationEvents(spark, raw, render,
      scratch("curation_empty"))
    assert(out.count() === 0L)
    assert(out.columns.nonEmpty)
  }

  test("statefulSessionize equals batch gaps-and-islands for any batching") {
    val out = Streaming.statefulSessionize(spark, events, 1800L, scratch("sess"))
      .select(col("key"), col("session_id"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.ops.Temporal.sessionize(events, col("user_id"), col("ts"), 1800L)
      .select(col("key"), col("session_id"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out === batch)
  }

  test("statefulSessionize drops its memory sink's temp view: two calls " +
       "leave the catalog as they found it, and both readouts keep their rows") {
    val before = spark.catalog.listTables().count()
    val first = Streaming.statefulSessionize(spark, events, 1800L, scratch("sess_a"))
    val second = Streaming.statefulSessionize(spark, events, 1800L, scratch("sess_b"))
    assert(spark.catalog.listTables().count() === before)
    val rows = first.collect().toSeq.map(_.toString).sorted
    assert(rows.nonEmpty)
    assert(second.collect().toSeq.map(_.toString).sorted === rows)
  }

  test("a failing maintained-state stream surfaces to the caller, stops, " +
       "and the next op captures its own micro-batch plan") {
    val root = java.nio.file.Files.createTempDirectory("graft-failing").toString
    val (src, snap, ckpt) = (s"$root/src", s"$root/snap", s"$root/ckpt")
    val feed = events.select(col("event_id"), col("user_id"))
    feed.coalesce(2).write.mode("overwrite").parquet(src)
    feed.limit(0).repartition(1).write.mode("overwrite")
      .parquet(Streaming.snapshotDir(snap, -1L))
    val boom = (_: org.apache.spark.sql.DataFrame,
                _: org.apache.spark.sql.DataFrame) =>
      throw new IllegalStateException("merge failed on purpose")
    val err = intercept[Exception] {
      Streaming.runSnapshotMaintenance(
        spark.readStream.schema(feed.schema).parquet(src), boom, snap, ckpt)
    }
    def causes(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: causes(t.getCause)
    assert(causes(err).exists(_.getMessage.contains("merge failed on purpose")))
    assert(spark.streams.active.isEmpty)
    val (out, plan) = Streaming.capturePlan(
      Streaming.streamingDedup(spark, events, scratch("after_failure")).count())
    assert(out === events.count())
    assert(plan.contains("StreamingDeduplicate"))
  }
}
