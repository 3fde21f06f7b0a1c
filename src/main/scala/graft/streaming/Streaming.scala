package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.ops.Distribute.deleteRecursively

import java.sql.Timestamp

import scala.util.control.NonFatal

/** Structured Streaming surface (SURVEY §2.9). The reference is pure
  * batch; its incremental-load pattern (fetch-new → dedup → MERGE) is the
  * batch analog of a streaming `foreachBatch` upsert.
  *
  * Verification harness: each op writes its input once to a scratch
  * parquet dir and drives the query from a file-backed `readStream` with
  * `maxFilesPerTrigger` — several genuine micro-batches, no driver-side
  * collect anywhere in the op path. At 100 TB the same query graph points
  * at the raw zone (`sink_raw_partitioned`'s layout) and nothing changes:
  * the file source lists and streams files, state lives in the state
  * store, and the write that seeds the scratch dir here is the upstream
  * ingest that already exists in production.
  *
  * Every op is written against one runner per mechanism:
  *  - [[fileStream]] is the one file source, and [[writeOnce]] the one
  *    fingerprint-cached fixture write behind it;
  *  - [[runToEnd]] starts a query, drains it and always stops it through
  *    the micro-batch plan capture, also when the drain throws;
  *  - [[drain]] runs a query into a memory sink and returns the rows it
  *    emitted, without leaving the sink's temp view in the catalog;
  *  - [[maintain]] runs a maintained-state op: fresh snapshot and
  *    checkpoint dirs, the caller's seed as `v=-1`, the
  *    [[runSnapshotMaintenance]] loop over the caller's feed and merge,
  *    and the latest snapshot.
  */
object Streaming {

  private var counter = 0

  private def nextName(prefix: String): String =
    synchronized { counter += 1; s"${prefix}_$counter" }

  /** Last executed MICRO-BATCH plan of the most recent stateful query —
    * the plan-audit evidence for streaming ops. A streaming op's
    * returned DataFrame is a memory-sink readout (its explain is just a
    * LocalTableScan), so the plan that matters — the one with
    * StreamingSymmetricHashJoin / stateful aggregates — lives on the
    * StreamExecution and is captured here right before stop(). Read it
    * through [[capturePlan]].
    */
  @volatile private var lastMicroBatchPlan: String = ""

  /** Run `body` and return its result with the micro-batch plan it left.
    * The capture is cleared first, so a run that never reaches a
    * stream's shutdown returns an empty plan, never the previous op's
    * (tools.Plans, tools.Trace and the fingerprint gate read it here).
    */
  private[graft] def capturePlan[T](body: => T): (T, String) = {
    lastMicroBatchPlan = ""
    val out = body
    (out, lastMicroBatchPlan)
  }

  /** Capture-then-stop: [[runToEnd]] funnels every query's shutdown
    * through here so [[lastMicroBatchPlan]] always holds the plan of the
    * query that just ran; before this, only the outer-join op captured
    * and the audit of any other streaming op silently re-printed a stale
    * plan.
    */
  private def stopCaptured(q: StreamingQuery): Unit = {
    // reset FIRST: a failed capture must leave the var empty, not the
    // previous op's stale plan — ops sharing a stateful marker (the two
    // StreamingDeduplicate dedups) would otherwise pass the fingerprint
    // gate against the wrong plan (advice round 10)
    lastMicroBatchPlan = ""
    try {
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
        q.explain()
      }
      lastMicroBatchPlan = baos.toString("UTF-8")
    } catch { case NonFatal(_) => () }
    finally q.stop()
  }

  /** Start `writer`, process everything available, and stop the query
    * through [[stopCaptured]] — also when processing throws, so a
    * failing stream surfaces to the caller and never outlives its op.
    */
  private def runToEnd(writer: DataStreamWriter[_]): Unit = {
    val q = writer.start()
    try q.processAllAvailable() finally stopCaptured(q)
  }

  /** Run `ds` to its end into a memory sink in output `mode` and return
    * the rows the sink holds. The readout is analyzed when it is built,
    * so it keeps the sink's rows after the sink's temp view is dropped;
    * without the drop every call left one more view, holding its rows,
    * in the session catalog.
    */
  private def drain(ds: Dataset[_], mode: String): DataFrame = {
    val spark = ds.sparkSession
    val name = nextName("graft_stream")
    try {
      runToEnd(ds.writeStream.format("memory").queryName(name).outputMode(mode))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** The one file source: the parquet files under `path`, `perTrigger`
    * files per micro-batch. */
  private def fileStream(spark: SparkSession, schema: StructType,
                         path: String, perTrigger: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(path)

  /** path → fingerprint of what was written there (projection schema +
    * canonical input plan). Keying by PATH ALONE was an advisor
    * finding: a caller reusing a path with different input would
    * silently stream the stale fixture — and because the stream declares
    * the caller's schema, a missing column would read back as NULLs
    * (silent wrong results) rather than erroring. The fingerprint makes
    * reuse semantic: same input plan + schema → reuse; anything else →
    * rewrite. Canonical-plan equality is sound for these
    * deterministic batch reads and costs no execution.
    */
  private val fixturesWritten = scala.collection.mutable.HashMap[String, String]()

  /** Write `df` to `path` as `files` parquet files, unless this JVM
    * already wrote the same input there: a bench sweep invokes an op
    * cold + warm, and the fixture is written once, not once per pass.
    */
  private def writeOnce(df: DataFrame, path: String, files: Int): Unit = {
    val fingerprint = df.schema.toDDL + "|" +
      df.queryExecution.analyzed.canonicalized.toString
    synchronized {
      if (!fixturesWritten.get(path).contains(fingerprint)) {
        df.repartition(files).write.mode("overwrite").parquet(path)
        fixturesWritten(path) = fingerprint
      }
    }
  }

  /** The canonical 5-column events projection every events-driven op
    * here streams from. */
  private val events5Cols =
    Seq("event_id", "ts", "user_id", "event_type", "value")

  private def events5(events: DataFrame): DataFrame =
    events.select(events5Cols.map(col): _*)

  /** File-backed stream over ONE SHARED events fixture: the 5-column
    * projection is written once per JVM per path and reused by every
    * events-driven op (each op projects/filters per micro-batch
    * downstream). A full Verify/Bench run previously rewrote an
    * essentially identical fixture 7 times per pass — pure corpus-scan
    * and parquet-write overhead; sharing it is safe because every op
    * here is documented (and spec-checked) to be independent of how
    * triggers slice the feed. 3 files; `filesPerTrigger` picks the
    * micro-batch count (1 → 3 triggers for watermark-advance ops,
    * 2 → 2 triggers for the foreachBatch maintain loops, whose oracles
    * only need "more than one batch").
    */
  private def events5Stream(spark: SparkSession, events: DataFrame,
                            scratch: String,
                            filesPerTrigger: Int): DataFrame = {
    // canonical columns ∩ input schema: callers of the SHARED path all
    // pass full events (5/5 cols); narrow test inputs get a narrow
    // fixture at their own path — per-path content stays deterministic
    val present = events.columns.toSet
    val src = events.select(events5Cols.filter(present).map(col): _*)
    writeOnce(src, scratch, 3)
    fileStream(spark, src.schema, scratch, filesPerTrigger)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` = `n`, restoring the
    * previous value after. Stateful streaming queries pin their state
    * partitioning at first start — and every micro-batch commits every
    * state partition — so state partitions should track KEY CARDINALITY,
    * not batch CPU: 32 partitions of near-empty state per tiny
    * micro-batch is pure commit overhead. Production sizes this to the
    * expected key count per the SCALE.md knob table.
    */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Tumbling 1-hour windowed counts per event_type, with a 1-hour
    * watermark. Complete output mode ⇒ the final table equals the batch
    * `groupBy(window(ts))` result, making the op oracle-verifiable.
    */
  def windowedCounts(spark: SparkSession, events: DataFrame,
                     scratch: String): DataFrame = withStatePartitions(spark, 8) {
    // 1 file per trigger ⇒ several triggers ⇒ watermark advances mid-stream
    drain(events5Stream(spark, events, scratch, filesPerTrigger = 1)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal sum: exact + engine-portable (see SparkEntry scaladoc)
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("sum_value")), "complete")
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"),
        // exact decimal accumulation, DOUBLE result type (Relational scaladoc)
        col("sum_value").cast("double").as("sum_value"))
  }

  // ---- durable foreachBatch snapshot maintenance (round 13) ----------

  private[graft] def snapshotDir(root: String, v: Long): String = s"$root/v=$v"

  /** Highest committed snapshot version strictly below `below` (pass
    * Long.MaxValue for "latest"). The version IS the micro-batch id
    * that produced it; `-1` is the caller-seeded initial state.
    * Listing goes through the Hadoop FileSystem of the root's scheme —
    * NOT java.io.File — so version discovery works wherever the
    * snapshots live (HDFS/S3 on a real cluster, local fs here); with
    * driver-local listing a non-local root would silently return None
    * and every batch would merge from v=-1 (ADVICE r13). The OWNING
    * session's Hadoop configuration is threaded in explicitly — in a
    * multi-session JVM the foreachBatch thread's SparkSession.active
    * can differ from the stream's session, and listing and GC-deletion
    * must resolve the SAME FileSystem (ADVICE r14).
    */
  private[graft] def snapshotVersions(root: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("v="))
        scala.util.Try(n.drop(2).toLong).toOption
      else None
    }.sorted
  }

  private[graft] def latestSnapshotVersion(root: String, below: Long,
      conf: org.apache.hadoop.conf.Configuration): Option[Long] =
    snapshotVersions(root, conf).filter(_ < below).lastOption

  /** Durable snapshot-maintenance runner for the foreachBatch family:
    * each micro-batch merges into a VERSIONED parquet snapshot keyed by
    * its batchId (`snapRoot/v=<id>`) — the Spark-docs idempotent-sink
    * recipe. The merge base is always the latest version STRICTLY BELOW
    * the incoming batchId, so a batch replayed after a crash (written
    * but not yet checkpoint-committed) rewrites its OWN version from
    * the same base instead of double-applying; kill/restart against the
    * same checkpoint is therefore exactly-once regardless of whether
    * the merge itself is idempotent ([[graft.StreamingRestartSpec]]
    * drives both the restart and the replay). The caller owns
    * snapshot/checkpoint lifetime ([[maintain]] and the restart spec)
    * and seeds `v=-1` with the initial state.
    *
    * Scale: the snapshot is key-cardinality-sized state ON STORAGE —
    * the shape a 1000-executor deployment needs anyway (executor-memory
    * snapshots die with the job); per tick, one snapshot scan + one
    * merge + one rewrite. Versions BELOW the tick's merge base are
    * deleted after the tick's write commits (round 14, ADVICE r13):
    * by the time batch `id` runs, every batch < `id` is
    * checkpoint-committed, so the only possible replay is of `id`
    * itself — which merges from `baseV`, the one old version the GC
    * keeps. Storage is therefore ≤ 2 snapshots regardless of feed
    * length.
    */
  private[graft] def runSnapshotMaintenance(stream: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      snapRoot: String, ckptPath: String): Unit = {
    val spark0 = stream.sparkSession
    val conf0 = spark0.sparkContext.hadoopConfiguration
    runToEnd(stream.writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val baseV = latestSnapshotVersion(snapRoot, below = id, conf0)
          .getOrElse(-1L)
        val base = graft.Tables.parquet(spark0, snapshotDir(snapRoot, baseV))
        merge(base, batch).write.mode("overwrite")
          .parquet(snapshotDir(snapRoot, id))
        // GC: anything below this tick's merge base can never be read
        // again (see scaladoc) — delete through the same FileSystem
        // the version listing uses (same conf, by construction)
        val p = new org.apache.hadoop.fs.Path(snapRoot)
        val fs = p.getFileSystem(conf0)
        snapshotVersions(snapRoot, conf0).filter(_ < baseV).foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(snapshotDir(snapRoot, v)),
            true)
        }
        ()
      }
      .option("checkpointLocation", ckptPath)
      .outputMode("update"))
  }

  /** Read the latest committed snapshot under `snapRoot`. */
  private[graft] def latestSnapshot(spark: SparkSession,
                                    snapRoot: String): DataFrame =
    graft.Tables.parquet(spark, snapshotDir(snapRoot,
      latestSnapshotVersion(snapRoot, Long.MaxValue,
        spark.sparkContext.hadoopConfiguration).getOrElse(-1L)))

  /** One maintained-state op around its merge: fresh
    * `<scratch><tag>_snap` / `_ckpt` dirs, `seed` written as `v=-1`,
    * [[runSnapshotMaintenance]] of `feed` through `merge`, and the
    * latest snapshot. The caller picks the seed's partitioning: an
    * empty seed needs one forced writer task (empty-relation
    * propagation can leave its plan with zero output partitions, and a
    * parquet dir with no part files has no schema to read back), while
    * a non-empty seed must not be forced onto one task at scale.
    */
  private def maintain(scratch: String, tag: String, seed: DataFrame,
                       feed: DataFrame,
                       merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val snapRoot = s"$scratch${tag}_snap"
    val ckpt = s"$scratch${tag}_ckpt"
    deleteRecursively(new java.io.File(snapRoot))
    deleteRecursively(new java.io.File(ckpt))
    seed.write.mode("overwrite").parquet(snapshotDir(snapRoot, -1L))
    runSnapshotMaintenance(feed, merge, snapRoot, ckpt)
    latestSnapshot(feed.sparkSession, snapRoot)
  }

  /** The upsert family's merge: latest-wins per key over base ∪ batch —
    * shared by [[streamingUpsert]] and the restart spec so they cannot
    * drift.
    */
  private[graft] def upsertMerge(keys: Seq[String])(
      base: DataFrame, batch: DataFrame): DataFrame =
    graft.ops.Dedup.dedupLatest(base.unionByName(batch), keys,
      col("ts"), Seq(col("event_id")))

  /** The reference's incremental-load pattern as a stream (SURVEY §2.9):
    * each micro-batch upserts into the running target snapshot via
    * `foreachBatch` — conditional latest-wins merge
    * (`dedupLatest(target ∪ batch)`), which is associative, so the final
    * snapshot is independent of how rows were batched and equals the
    * batch latest-wins result over all events.
    *
    * `target`/`source` split: target starts as the deduped even-id
    * events; odd-id events arrive as the stream, one file per trigger.
    * Round 13: the snapshot moved from executor memory to the durable
    * versioned store ([[runSnapshotMaintenance]]), making the registered
    * op itself kill/restart-safe — the restart spec proves it on this
    * exact merge.
    */
  def streamingUpsert(spark: SparkSession, events: DataFrame,
                      keys: Seq[String], scratch: String): DataFrame = withStatePartitions(spark, 8) {
    maintain(scratch, "_upsert",
      graft.ops.Dedup.dedupLatest(events5(events).filter(col("event_id") % 2 === 0),
        keys, col("ts"), Seq(col("event_id"))),
      events5Stream(spark, events, scratch, filesPerTrigger = 2)
        .filter(col("event_id") % 2 === 1),
      upsertMerge(keys))
  }

  /** The agg-maintenance family's merge: full-outer combine of
    * decomposable aggregates — shared by [[streamingAggMaintain]] and
    * the restart spec so they cannot drift. */
  private[graft] def aggMerge(keys: Seq[String])(
      base: DataFrame, batch: DataFrame): DataFrame =
    graft.ops.Changelog.maintainAgg(base, batch, keys, col("value"))

  /** Materialized-view maintenance as a LIVE query: the per-key
    * aggregate table ([[graft.ops.Changelog.maintainAgg]]) is advanced
    * by each micro-batch inside `foreachBatch` — the streaming face of
    * incremental ETL, and a different state pattern from
    * [[streamingUpsert]]'s latest-wins replace: aggregates ACCUMULATE,
    * so the merge is a full-outer combine of decomposable (n, sum, min,
    * max), never a re-aggregation of history. Because the aggregates
    * are decomposable, the final table provably equals the batch
    * recompute regardless of how triggers slice the feed (the
    * split-independence property the batch spec asserts) — which is
    * exactly why the oracle can be the full recompute.
    *
    * Scale: per tick, one map-side-combined aggregation of the batch +
    * one key-sized full-outer merge; the view is key-cardinality-sized
    * state, the feed is never retained. Round 14: the view moved from
    * the executor-memory persist/unpersist swap to the durable
    * versioned store ([[runSnapshotMaintenance]]) — the decomposable
    * (n, sum, min, max) merge is NOT idempotent (a replayed batch
    * would double-count), which is exactly the failure class the
    * batchId-versioned snapshots retire; kill/restart + replay proven
    * in [[graft.StreamingRestartSpec]] on this same merge.
    */
  def streamingAggMaintain(spark: SparkSession, events: DataFrame,
                           keys: Seq[String],
                           scratch: String): DataFrame = withStatePartitions(spark, 8) {
    maintain(scratch, "_agg",
      graft.ops.Changelog.buildAgg(events5(events).filter(col("event_id") % 2 === 0),
        keys, col("value")),
      events5Stream(spark, events, scratch, filesPerTrigger = 2)
        .filter(col("event_id") % 2 === 1),
      aggMerge(keys))
  }

  /** The CDC family's merge: tombstone-retaining latest-wins advance —
    * shared by [[streamingCdcApply]] and the restart spec.
    */
  private[graft] def cdcMerge(keys: Seq[String])(
      base: DataFrame, batch: DataFrame): DataFrame =
    graft.ops.Changelog.cdcAdvance(base, batch, keys, Seq("ts", "event_id"))

  /** LIVE CDC replication: a key snapshot maintained in foreachBatch by
    * [[graft.ops.Changelog.cdcAdvance]] — each micro-batch's changes
    * merge in latest-wins per key, deletes retained as TOMBSTONES so
    * any trigger slicing (or replay, or reordering) of the changelog
    * lands the identical state; the returned view filters tombstones
    * and provably equals [[graft.ops.Changelog.cdcApply]] over the full
    * log — which is exactly why the batch `cdc_apply` oracle verifies
    * the streamed result. The third live-maintenance shape next to
    * [[streamingAggMaintain]] (accumulate) and [[streamingUpsert]]
    * (replace): REPLICATE, with deletes.
    *
    * Scale: per tick, one batch-sized latest-wins window + one
    * key-sized full-outer struct merge; state is key-cardinality-sized
    * (plus tombstones, compactable once all producers pass their seq).
    */
  def streamingCdcApply(spark: SparkSession, log: DataFrame,
                        keys: Seq[String],
                        scratch: String): DataFrame = withStatePartitions(spark, 8) {
    val base = log.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("op"))
    val seqCols = Seq("ts", "event_id")
    def collapse(df: DataFrame): DataFrame = {
      val w = Window
        .partitionBy(keys.map(col): _*)
        .orderBy(seqCols.map(col(_).desc): _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val feed = base.filter(col("event_id") % 2 === 1)
    feed.repartition(3).write.mode("overwrite").parquet(scratch)
    maintain(scratch, "", collapse(base.filter(col("event_id") % 2 === 0)),
      // 2 batches prove the advance loop
      fileStream(spark, feed.schema, scratch, 2),
      cdcMerge(keys))
      .filter(col("op") =!= "D").drop("op")
  }

  /** The merge of [[streamingHllMaintain]]: register max-merge of the
    * batch's own daily registers into the maintained table, shared with
    * the restart spec so op and proof cannot drift.
    */
  private[graft] def hllMerge(base: DataFrame, batch: DataFrame): DataFrame =
    graft.ops.Profile.hllMergeRegs(base,
      graft.ops.Profile.hllDailyRegs(batch, col("ts"), col("user_id")))

  /** LIVE daily-distinct sketch maintenance: the HLL register table of
    * [[graft.ops.Profile.hllDailyRegs]] is the maintained state; each
    * micro-batch max-merges its own registers in (union + re-max —
    * associative and idempotent, so ANY trigger slicing of the feed
    * yields the identical table, and the final estimates equal a batch
    * recompute over the full feed bit-for-bit). This is the production
    * shape for streaming distinct counts: state is days × 64 longs
    * regardless of feed volume, and the same maintained table serves
    * point, calendar, and sliding windows ([[graft.ops.Profile
    * .hllSlidingDistinct]]) without touching the raw feed again.
    * Round 14: state moved to the durable versioned store
    * ([[runSnapshotMaintenance]]) — this merge is idempotent anyway,
    * but one restart discipline for ALL maintained state beats a
    * per-op exception; kill/restart + replay proven in
    * [[graft.StreamingRestartSpec]].
    */
  def streamingHllMaintain(spark: SparkSession, events: DataFrame,
                           scratch: String): DataFrame = withStatePartitions(spark, 8) {
    import graft.ops.Profile
    val base = events.select(col("event_id"), col("ts"), col("user_id"))
    Profile.hllEstimate(maintain(scratch, "_hll",
      Profile.hllDailyRegs(base.filter(col("event_id") % 2 === 0),
        col("ts"), col("user_id")),
      events5Stream(spark, events, scratch, filesPerTrigger = 2)
        .filter(col("event_id") % 2 === 1),
      hllMerge), Seq("day"))
  }

  /** The heavy-hitter family's merge: map-side-combined batch counts
    * union + re-sum into the maintained key table — associative and
    * commutative but NOT idempotent (a replayed batch would
    * double-count), the exact class the versioned snapshots retire.
    * Shared with the restart spec. */
  private[graft] def countMerge(base: DataFrame, batch: DataFrame): DataFrame =
    base.unionByName(
        batch.groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n")))
      .groupBy(col("key")).agg(sum(col("n")).as("n"))

  /** Heavy hitters maintained LIVE: per-key exact counts merged in
    * foreachBatch (count tables union+re-sum — associative and
    * commutative, so any trigger slicing lands the same state, the
    * [[streamingHllMaintain]] / CDC-merge discipline), with the batch
    * [[graft.ops.Profile.heavyHitters]] top-N/share selection applied
    * to the final state. Result hash-equals the batch recompute over
    * the same feed.
    *
    * Scale: per-batch state is |distinct keys| rows, never feed-sized;
    * at production cardinalities the same loop maintains a
    * [[graft.ops.Profile.cmsEstimate]] sketch instead — identical
    * merge shape, bounded state.
    */
  def streamingHeavyHitters(spark: SparkSession, events: DataFrame,
                            scratch: String,
                            topN: Int = 10): DataFrame = withStatePartitions(spark, 8) {
    // seed v=-1 with the EMPTY count table (schema-bearing): the whole
    // feed arrives through the stream for this op; one forced writer
    // task (see maintain)
    val view = maintain(scratch, "_hh",
      events.select(col("event_id"), col("user_id")).limit(0)
        .groupBy(col("user_id").as("key"))
        .agg(count(lit(1)).as("n")).repartition(1),
      events5Stream(spark, events, scratch, filesPerTrigger = 2),
      countMerge)
    val total = view.agg(sum(col("n")).as("total"))
    view.crossJoin(broadcast(total))
      .withColumn("share", col("n").cast("double") / col("total"))
      .orderBy(col("n").desc, col("key").asc)
      .limit(topN)
      .select(col("key"), col("n"), col("share"))
  }

  /** The KMV family's merge: re-take the k smallest id-hashes of
    * state ∪ the batch's own bottom-k sample — associative and
    * commutative, but NOT idempotent as a multiset union (a replayed
    * batch's rows would enter the bottom-k twice), so the versioned
    * store's replay-from-same-base guarantee is load-bearing here.
    * Shared with the restart spec. */
  private[graft] def sketchMerge(k: Int)(
      base: DataFrame, batch: DataFrame): DataFrame =
    graft.ops.Profile.bottomKMerge(
      base.unionByName(graft.ops.Profile.bottomKSample(batch,
        group = col("event_type"), id = col("event_id"),
        value = col("value"), k = k)), k)

  /** Bottom-k quantile sketch maintained LIVE over the stream: every
    * micro-batch contributes its own bottom-k sample, merged into the
    * running state by re-taking the k smallest id-hashes of the union —
    * the KMV merge identity [[graft.ops.Profile.sketchQuantilesMerged]]
    * executes shard-wise in batch, here driven by arbitrary trigger
    * slicing (associative + commutative, so ANY slicing lands the same
    * state). The readout therefore hash-equals the batch sketch over
    * the same feed and registers against the same-shaped oracle.
    *
    * Scale: state is ≤ k rows per group FOREVER — the bounded-state
    * answer for quantiles over unbounded feeds (contrast the exact
    * streaming-dedup state discussion in SCALE.md); per batch only the
    * batch's own k-row samples and the k-row state shuffle, and history
    * is never rescanned.
    */
  def streamingSketchQuantiles(spark: SparkSession, events: DataFrame,
                               scratch: String,
                               k: Int = 256): DataFrame = withStatePartitions(spark, 8) {
    import graft.ops.Profile
    val base = events.select(col("event_id"), col("event_type"), col("value"))
    // empty seed, one forced writer task (see maintain)
    Profile.quantilesOfSample(maintain(scratch, "_kmv",
      Profile.bottomKSample(base.limit(0),
        group = col("event_type"), id = col("event_id"),
        value = col("value"), k = k).repartition(1),
      events5Stream(spark, events, scratch, filesPerTrigger = 2),
      sketchMerge(k)))
      .withColumnRenamed("g", "event_type")
  }

  private def dsirBucketed(df: DataFrame, buckets: Int): DataFrame =
    df.select(col("doc_id"), col("lang"),
      explode(graft.ops.Text.words(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"),
        (graft.ops.Text.wordHash(col("w")) % buckets).as("b"))

  private[graft] def dsirCounts(df: DataFrame, targetLang: String,
                         buckets: Int): DataFrame =
    dsirBucketed(df, buckets).groupBy(col("b"))
      .agg(count(lit(1)).as("cnt_r"),
        count(when(col("lang") === targetLang, 1)).as("cnt_t"))

  /** The DSIR family's merge: the batch's hashed-feature bucket counts
    * sum-merge into the two maintained count tables — associative and
    * commutative, NOT idempotent (replay would double-count), hence
    * hosted on the versioned store. Shared with the restart spec. */
  private[graft] def dsirMerge(targetLang: String, buckets: Int)(
      base: DataFrame, batch: DataFrame): DataFrame =
    base.unionByName(dsirCounts(batch, targetLang, buckets))
      .groupBy(col("b"))
      .agg(sum(col("cnt_r")).as("cnt_r"), sum(col("cnt_t")).as("cnt_t"))

  /** DSIR frequency tables maintained LIVE over the document stream:
    * each micro-batch's hashed-feature bucket counts (target +
    * pool, the [[graft.ops.Text.dsirAffinity]] conditional-aggregation
    * shape) sum-merge into the running tables in foreachBatch —
    * associative + commutative, so ANY trigger slicing lands the same
    * tables. State is the two FIXED-cardinality count tables (256
    * rows), the smallest possible streaming state: the feed can be
    * unbounded and the state never grows. The final scoring pass runs
    * the standard batch probe against the maintained tables, so the
    * result hash-equals [[graft.ops.Text.dsirAffinity]] over the same
    * corpus and registers against the same oracle.
    */
  def streamingDsir(spark: SparkSession, docs: DataFrame, scratch: String,
                    targetLang: String = "en",
                    buckets: Int = 256): DataFrame = withStatePartitions(spark, 8) {
    val base = docs.select(col("doc_id"), col("text"), col("lang"))
    writeOnce(base, scratch, 4)
    // empty seed, one forced writer task (see maintain)
    val tables = maintain(scratch, "_dsir",
      dsirCounts(base.limit(0), targetLang, buckets).repartition(1),
      fileStream(spark, base.schema, scratch, 2),
      dsirMerge(targetLang, buckets))
    val delta = tables.select(col("b"),
      (expr("cnt_t * 1000000 div sum(cnt_t) over ()") -
        expr("cnt_r * 1000000 div sum(cnt_r) over ()")).as("delta"))
    dsirBucketed(base, buckets).join(broadcast(delta), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("delta")).as("affinity"))
  }

  /** Train-offline / score-online: the quality probe's weights and
    * above-mean cutoff are trained in BATCH ([[graft.ops.Text.probeModel]]
    * — the frozen model artifact a production pipeline ships), then the
    * document stream is scored by a PURE STATELESS PROJECTION carrying
    * the weights and cutoff as literals — no state store at all, the
    * cheapest possible streaming shape (scales to any rate; nothing to
    * checkpoint but the source offsets). Closed-feed contract: the
    * readout hash-equals batch `quality_probe` by construction — the
    * scoring expression, weights, and decision literals are identical.
    */
  def streamingQualityScore(spark: SparkSession, docs: DataFrame,
                            scratch: String,
                            iterations: Int = 6): DataFrame = {
    import graft.ops.Text
    val base = docs.select(col("doc_id"), col("text"), col("lang"))
    val (w, tot, n) = Text.probeModel(base, iterations)
    writeOnce(base, scratch, 4)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    drain(Text.probeScore(Text.probeFeatures(
        fileStream(spark, base.schema, scratch, 2)), w)
      .select(col("doc_id"), expr("y div 1000000").as("label"),
        col("s").as("score_q"),
        (col("s").cast(dec) * lit(n).cast(dec) >
          lit(tot.toString).cast(dec)).as("above_mean")), "append")
  }

  /** The events curation front door LIVE — the reference's JSON flatten
    * path (P1) feeding the LLM curation chain as a STREAMING ingest.
    * Raw event rows (JSON `props` payload and all) stream from the
    * feed; each micro-batch runs the caller-supplied flatten→render
    * projection plus NFC normalize + sha2 — ALL pure projections, no
    * state store (the cheapest streaming shape, same class as
    * [[streamingQualityScore]]) — and appends the normalized
    * (doc_id, text, content_hash) rows to a parquet STAGING SINK with
    * exactly-once file-commit semantics. This is the production front
    * door: the stream maintains the curation staging table; the
    * verdict pass runs per corpus snapshot. On feed close the readout
    * runs [[graft.ops.TextDedup.curationVerdicts]] — the literal batch
    * verdict tail — over the staged corpus with the same
    * corpus-derived df cap, so the closed-feed result hash-equals
    * batch `curation_pipeline_events` by construction (one code chain
    * end to end; the render function itself is shared with the batch
    * registration).
    *
    * Scale: per-tick cost is one projection over the batch (no join,
    * no shuffle, no state); the sink is an append-only parquet table —
    * the same staging-table shape S3 uses — and the verdict pass costs
    * exactly the batch pipeline. The sink + checkpoint restart clean
    * per invocation: deterministic re-runs beat reasoning about
    * resume-state interactions on a test fixture.
    */
  def streamingCurationEvents(spark: SparkSession, rawEvents: DataFrame,
                              render: DataFrame => DataFrame,
                              scratch: String,
                              k: Int = 3,
                              threshold: Double = 0.5): DataFrame =
    curationVerdicts(runStaging(spark, rawEvents, curationStage(render),
      scratch), k, threshold)

  /** The curation ingest's per-micro-batch projection: `render`, then
    * NFC normalize + content hash. */
  private def curationStage(render: DataFrame => DataFrame)(
      df: DataFrame): DataFrame =
    graft.ops.Text.textNormalize(render(df), form = "NFC")
      .select(col("doc_id"), col("text"), col("content_hash"))

  /** One resumable pass of the curation ingest stream: drain every file
    * currently visible under `srcPath` into the parquet staging sink,
    * honoring an existing checkpoint (NO cleanup here — the caller owns
    * sink/checkpoint lifetime, which is what lets
    * [[graft.StreamingRestartSpec]] kill the feed mid-delivery and
    * restart it against the same checkpoint). Returns the staged schema
    * for the readout. Extracted from [[streamingCurationEvents]] r12.
    */
  private[graft] def runCurationStream(spark: SparkSession,
                                       rawSchema: StructType,
                                       render: DataFrame => DataFrame,
                                       srcPath: String, sinkPath: String,
                                       ckptPath: String): StructType =
    runProjectionStream(spark, rawSchema, curationStage(render),
      srcPath, sinkPath, ckptPath)

  /** One resumable pass of a stateless projection ingest: drain every
    * file currently visible under `srcPath` through `project` into the
    * parquet staging sink, honoring an existing checkpoint (NO cleanup
    * here — the caller owns sink/checkpoint lifetime, which is what
    * lets the restart specs kill the feed mid-delivery and resume).
    * Generalized from the curation front door (r12) so the web front
    * door streams through the same machinery. Returns the staged
    * schema for the readout.
    */
  private[graft] def runProjectionStream(spark: SparkSession,
      rawSchema: StructType,
      project: DataFrame => DataFrame,
      srcPath: String, sinkPath: String, ckptPath: String): StructType = {
    val staged = project(fileStream(spark, rawSchema, srcPath, 2))
    runToEnd(staged.writeStream
      .format("parquet")
      .option("path", sinkPath)
      .option("checkpointLocation", ckptPath)
      .outputMode("append"))
    staged.schema
  }

  /** Shared staging half of the streaming front doors: write `raw` as
    * the file feed under `<scratch>_src` (fingerprint-cached), drain it
    * through the stateless `project` into a fresh parquet staging sink,
    * and return the staged frame.
    */
  private def runStaging(spark: SparkSession, raw: DataFrame,
                         project: DataFrame => DataFrame,
                         scratch: String): DataFrame = {
    val srcPath = scratch + "_src"
    val sinkPath = scratch + "_sink"
    val ckptPath = scratch + "_ckpt"
    writeOnce(raw, srcPath, 4)
    deleteRecursively(new java.io.File(sinkPath))
    deleteRecursively(new java.io.File(ckptPath))
    val stagedSchema = runProjectionStream(spark, raw.schema, project,
      srcPath, sinkPath, ckptPath)
    spark.read.schema(stagedSchema).parquet(sinkPath)
  }

  /** The web-corpus front door as a STREAMING ingest (the
    * [[streamingCurationEvents]] convention): raw staged pages stream
    * from the feed, every micro-batch runs the STATELESS repair + C4
    * cleaning projection ([[graft.ops.Text.webStage12]] — the same
    * function value the batch front door composes) into a parquet
    * staging sink, and the closed-feed readout runs the literal batch
    * verdict tail ([[graft.ops.Text.webVerdictTail]]: Gopher A1 flags
    * + the dedup window) over the staged corpus — hash-equal to batch
    * `web_pipeline` by construction (same oracle). The mojibake-mirror
    * coupling carries over: the mirrors still merge at the readout's
    * dedup window IFF the in-stream repair stage ran.
    */
  def streamingWebPipeline(spark: SparkSession, staged: DataFrame,
                           scratch: String): DataFrame =
    graft.ops.Text.webVerdictTail(
      runStaging(spark, staged, graft.ops.Text.webStage12, scratch))

  /** The STREAMING face of `web_pipeline_near` (round 15, the
    * [[streamingWebPipeline]] convention one stage further): the same
    * per-micro-batch stateless repair + C4 projection into the staging
    * sink, then the closed-feed readout runs the literal batch verdict
    * tail AND the literal batch near-dedup tail
    * ([[graft.ops.Text.webNearTail]] — the same function value
    * `web_pipeline_near` composes) over the staged corpus — hash-equal
    * to the batch op by construction (same oracle). The near stage is
    * a CLOSED-FEED readout, not live state: MinHash signatures over a
    * half-arrived corpus would assign near-canonicals that a later
    * page invalidates (smaller-id partners can arrive late), so the
    * honest streaming shape is stage-1/2 live + dedup on seal — the
    * same batch/stream split the curation front door uses. Restart
    * safety is the staging sink's file-commit protocol
    * (kill/restart-proven in StreamingRestartSpec).
    */
  def streamingWebPipelineNear(spark: SparkSession, staged: DataFrame,
                               scratch: String): DataFrame =
    graft.ops.Text.webNearTail(graft.ops.Text.webVerdictTail(
      runStaging(spark, staged, graft.ops.Text.webStage12, scratch)))

  /** Closed-feed verdict readout over the staging sink — the literal
    * batch verdict tail with the same corpus-derived df cap. Explicit
    * schema: an empty feed leaves only _spark_metadata in the sink, and
    * schema inference would throw where the batch front door returns an
    * empty verdict table (ADVICE r12).
    */
  private[graft] def curationReadout(spark: SparkSession,
                                     stagedSchema: StructType,
                                     sinkPath: String, k: Int,
                                     threshold: Double): DataFrame =
    curationVerdicts(spark.read.schema(stagedSchema).parquet(sinkPath),
      k, threshold)

  private def curationVerdicts(corpus: DataFrame, k: Int,
                               threshold: Double): DataFrame = {
    import graft.ops.TextDedup
    val n = corpus.count()
    TextDedup.curationVerdicts(corpus, k, threshold,
      TextDedup.dfCapFor(n), n)
  }

  private[graft] def ksCounts(df: DataFrame): DataFrame =
    graft.ops.Profile.ksSideCounts(df,
      graft.ops.Profile.evenOddDaySide(col("ts")), col("value"))

  /** The KS family's merge: per-cents-value pair counts sum-merge —
    * associative/commutative, NOT idempotent; versioned store (round
    * 14, completing the durable migration). Shared with the restart
    * spec. */
  private[graft] def ksMerge(base: DataFrame, batch: DataFrame): DataFrame =
    base.unionByName(ksCounts(batch))
      .groupBy(col("x"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))

  /** LIVE two-sample KS drift monitor — [[graft.ops.Profile.ksDrift]]'s
    * even/odd-day populations maintained over the event stream: each
    * micro-batch sum-merges its per-cents-value pair counts into the
    * state table, whose size is bounded by the metric's DISCRETE DOMAIN
    * (distinct cents values), never by the feed — the same
    * constant-state argument as the DSIR tables. The readout runs
    * [[graft.ops.Profile.ksFromCounts]] — the literal batch statistic
    * stage — so the closed-feed result equals batch `ks_drift` by
    * construction (same oracle, identical hash).
    */
  def streamingKsDrift(spark: SparkSession, events: DataFrame,
                       scratch: String): DataFrame =
    withStatePartitions(spark, 8) {
      // empty seed, one forced writer task (see maintain)
      graft.ops.Profile.ksFromCounts(maintain(scratch, "_ks",
        ksCounts(events.limit(0)).repartition(1),
        events5Stream(spark, events, scratch, filesPerTrigger = 2),
        ksMerge))
    }

  private[graft] def conformalCounts(df: DataFrame): DataFrame =
    graft.ops.Profile.conformalSideCounts(df, col("event_type"),
      col("event_id"), col("value"))

  /** The conformal family's merge: per-(group, cents) side counts
    * sum-merge — associative/commutative, NOT idempotent; versioned
    * store (round 14). Shared with the restart spec. */
  private[graft] def conformalMerge(base: DataFrame,
                                    batch: DataFrame): DataFrame =
    base.unionByName(conformalCounts(batch))
      .groupBy(col("g"), col("c"))
      .agg(sum(col("ca")).as("ca"), sum(col("ct")).as("ct"))

  /** LIVE split-conformal monitor — [[graft.ops.Profile
    * .conformalThreshold]]'s calibration/holdout count table maintained
    * over the event stream: each micro-batch sum-merges its per-(group,
    * cents) side counts into state bounded by the metric's DISCRETE
    * DOMAIN (the [[streamingKsDrift]] constant-state argument), so the
    * current q̂ and measured holdout coverage are queryable at any
    * trigger without a feed rescan. The readout runs
    * [[graft.ops.Profile.conformalFromCounts]] — the literal batch
    * statistic stage — so the closed-feed result equals batch
    * `conformal_threshold` by construction (same oracle, identical
    * hash).
    */
  def streamingConformal(spark: SparkSession, events: DataFrame,
                         scratch: String): DataFrame =
    withStatePartitions(spark, 8) {
      // empty seed, one forced writer task (see maintain)
      graft.ops.Profile.conformalFromCounts(maintain(scratch, "_conf",
        conformalCounts(events.limit(0)).repartition(1),
        events5Stream(spark, events, scratch, filesPerTrigger = 2),
        conformalMerge), alphaNum = 1, alphaDen = 10)
    }

  /** Stream-static enrichment: the event stream joins a static dimension
    * snapshot (re-read per micro-batch in real deployments — here the
    * standard broadcast equi-join per batch). Result equals the batch
    * join since the dimension is fixed for the run.
    */
  def streamingEnrich(spark: SparkSession, events: DataFrame,
                      dim: DataFrame, scratch: String): DataFrame =
    drain(events5Stream(spark, events, scratch, filesPerTrigger = 2)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .join(broadcast(dim), Seq("user_id")), "append")

  /** Streaming near-duplicate detection — the LLM ingest tick as a LIVE
    * query: new documents stream in; each is probed against a
    * maintained corpus near-dup index and emitted with its verified
    * corpus near-dups.
    *
    * The index is [[graft.ops.TextDedup.corpusBucketTable]] (built by
    * the batch MinHash aggregate — what a production pipeline persists
    * and refreshes on a schedule); the stream computes bucket-COMPATIBLE
    * band keys per row with [[graft.ops.TextDedup.streamingBandsFor]]
    * (the same seed-42 hash family as pure expressions — a per-doc
    * groupBy would force a watermarked aggregation and break append
    * mode). Candidates come from a stream-static equi-join on
    * (band, key); the exact-Jaccard verify is a second stream-static
    * join against the corpus shingle sets plus an in-row intersection —
    * the stream doc carries its own shingle array, so verification
    * needs NO streaming state. The only stateful operator is the final
    * dropDuplicates collapsing multi-band hits of the same pair
    * (state = one tiny key per emitted pair; production bounds it with
    * dropDuplicatesWithinWatermark on the ingest timestamp).
    *
    * Scale: per tick, cost tracks the BATCH (band keys: 8·numHashes
    * bytes/doc; candidates: batch × corpus bucket collisions) — never
    * corpus²; identical guarantees to the batch
    * [[graft.ops.TextDedup.nearDupIncremental]], which shares the hash
    * family, banding, and verify arithmetic.
    */
  def streamingNearDup(spark: SparkSession, docs: DataFrame,
                       scratch: String,
                       threshold: Double = 0.5): DataFrame = {
    import graft.ops.TextDedup
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))

    // the maintained index: banded buckets + shingle sets (static side).
    // Persisted: a static DataFrame inside a streaming query is
    // re-evaluated EVERY trigger otherwise — the index must be built
    // once, which is also precisely what the production shape does
    val buckets = TextDedup.corpusBucketTable(corpus)
      .select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .persist()
    val sets = TextDedup.corpusShingleSets(corpus)
      .select(col("doc_id").as("doc_a"), col("set").as("set_a"),
        col("n").as("n_a"))
      .persist()
    buckets.count(); sets.count()

    batch.repartition(4).write.mode("overwrite").parquet(scratch)

    // 2 files per trigger: the probe is stateless per doc, so trigger
    // count only costs re-analysis overhead — 2 batches still prove
    // the incremental-tick shape
    val probe = fileStream(spark, batch.schema, scratch, 2)
      // set_b rides as xxhash64 longs (round 16): the corpus index
      // ([[graft.ops.TextDedup.corpusShingleSets]]) stores hashed sets,
      // so the probe hashes its in-row array with the SAME xxhash64 —
      // transform preserves array length, so n_b stays the
      // string-distinct count and the size-ratio prune / Jaccard
      // denominator are unchanged (divergence needs an xxhash64
      // collision inside one candidate pair's sets: ~|set|²/2⁶⁴, the
      // family's disclosed bound)
      .select(col("doc_id").as("doc_b"),
        transform(TextDedup.shingleArray(col("text"), 3),
          s => xxhash64(s)).as("set_b"),
        explode(TextDedup.streamingBandsFor(col("text"))).as("bk"))
      .select(col("doc_b"), col("set_b"), size(col("set_b")).as("n_b"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    drain(probe
      .join(buckets, Seq("band", "key"))
      .select(col("doc_a"), col("doc_b"), col("set_b"), col("n_b"))
      // NO broadcast hint: `sets` is the CORPUS-side shingle index —
      // corpus-proportional, the one thing that must never be forced
      // into executor memory (SCALE.md §4 doctrine, same reasoning as
      // verifyJaccard's semi-join). The planner broadcasts it while its
      // persisted size fits the threshold and degrades to a shuffled
      // join beyond that; production pre-buckets the index on doc_a.
      .join(sets, Seq("doc_a"))
      // same size-ratio prune + exact intersection as verifyJaccard
      .filter(col("n_a") >= lit(threshold) * col("n_b") &&
              col("n_b") >= lit(threshold) * col("n_a"))
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .dropDuplicates("doc_a", "doc_b"), "append")
  }

  /** Streaming anomaly monitor: baseline per-group moment stats are
    * trained on the batch corpus (one scan, broadcast); the live feed is
    * then flagged row-by-row with the same exact-decimal k-sigma
    * decision as the batch `anomaly_zscore` — a stream-static broadcast
    * join + filter, NO aggregation on the feed side, so there is no
    * streaming state at all: each micro-batch flags and forgets. This is
    * the production DQ-monitor shape: retrain the baseline on a
    * schedule, redeploy the stream with new broadcast stats.
    */
  def streamingAnomaly(spark: SparkSession, orders: DataFrame,
                       scratch: String): DataFrame = {
    val src = orders.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice"))
    src.repartition(3).write.mode("overwrite").parquet(scratch)

    val stats = graft.ops.Profile.anomalyStats(src,
      col("o_orderpriority"), col("o_totalprice"))

    drain(graft.ops.Profile.flagAnomalies(
        fileStream(spark, src.schema, scratch, 1), stats,
        col("o_orderpriority"), col("o_totalprice"),
        idCols = Seq("o_orderkey"), num = 3, den = 2), "append")
  }

  /** Append-mode watermarked windowed counts: only windows the watermark
    * has finalized (window end <= max event time - delay) are emitted —
    * the explicit late-data contract, vs [[windowedCounts]]'s complete
    * mode. `processAllAvailable` runs the trailing no-data batch that
    * flushes state finalized by the last watermark advance.
    *
    * The feed arrives in event-time order (one file per ts-quartile,
    * modtime-ordered oldest-first — the realistic ingest pattern):
    * append mode
    * DROPS events behind the watermark, so a randomly-batched feed would
    * legitimately lose most windows. In-order arrival means zero late
    * drops and the emitted set is exactly "window end <= max ts - delay".
    */
  def windowedCountsAppend(spark: SparkSession, events: DataFrame,
                           scratch: String): DataFrame = withStatePartitions(spark, 8) {
    val src = events.select(col("event_id"), col("ts"), col("event_type"),
      col("value"))
    // one-pass event-time-ordered fixture (4 ts-quartile files arriving
    // oldest-first) — append mode needs monotone arrival for zero late
    // drops, not any particular calendar slicing
    writeTimeOrdered(src, "ts", scratch, 4)

    drain(fileStream(spark, src.schema, scratch, 1)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n")), "append")
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"))
  }

  /** The dedups' feed: the 5-column events written twice (a simulated
    * re-ingest of the whole feed), streamed one file per trigger. */
  private def doubledFeed(spark: SparkSession, events: DataFrame,
                          scratch: String): DataFrame = {
    val src = events5(events)
    src.repartition(2).write.mode("overwrite").parquet(scratch)
    src.repartition(2).write.mode("append").parquet(scratch) // re-ingest dup copy
    fileStream(spark, src.schema, scratch, 1)
  }

  /** Streaming exact dedup: the input is written twice (a simulated
    * re-ingest of the whole feed) and `dropDuplicates(event_id)` emits
    * exactly one copy per key across all micro-batches — keyed state holds
    * the ids already seen. No watermark here so the check is exact for any
    * file arrival order; production bounds the state with
    * `dropDuplicatesWithinWatermark` once late data has a contract.
    * Equals batch DISTINCT over the feed (copies are identical rows).
    */
  def streamingDedup(spark: SparkSession, events: DataFrame,
                     scratch: String): DataFrame = withStatePartitions(spark, 8) {
    drain(doubledFeed(spark, events, scratch).dropDuplicates("event_id"),
      "append")
  }

  /** BOUNDED-STATE streaming exact dedup — the production sibling of
    * [[streamingDedup]] and the repo's own top honest limit (SCALE.md
    * "What breaks first"): `dropDuplicatesWithinWatermark(event_id)`
    * under an EXPLICIT lateness contract. The contract: a duplicate is
    * guaranteed collapsed only if it arrives before the watermark passes
    * its first copy's event time + `delay`; in exchange the state store
    * keeps a key only until that point, so state is bounded by the keys
    * seen in one lateness window — not the feed's lifetime key set.
    *
    * Harness determinism (same pattern as [[streamStreamJoin]]): the
    * closed doubled feed runs with `delay` wider than its event-time
    * span, so nothing is late, no state expires mid-run, and the append
    * result equals batch DISTINCT exactly — the oracle. Production
    * tightens `delay` to the ingest lateness contract with the same
    * query graph; eviction and late-duplicate drop under a TIGHT delay
    * are spec-verified via state-store metrics (StreamingSpec).
    */
  def streamingDedupWatermark(spark: SparkSession, events: DataFrame,
                              scratch: String,
                              delay: String = "365 days"): DataFrame =
    withStatePartitions(spark, 8) {
      drain(doubledFeed(spark, events, scratch)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("event_id"), "append")
    }

  /** The interval joins' two sides over the same events: views and
    * purchases. */
  private def viewsAndPurchases(events: DataFrame): (DataFrame, DataFrame) = (
    events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts")),
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts")))

  /** The interval joins' condition: a purchase by the same user within
    * [view_ts, view_ts + windowSec]. */
  private def purchaseInWindow(windowSec: Long): Column =
    col("user_id") === col("p_user_id") &&
      col("purchase_ts") >= col("view_ts") &&
      col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $windowSec SECONDS")

  /** Stream-stream interval join (the missing join shape after
    * stream-static [[streamingEnrich]]): purchases join views of the same
    * user where the purchase lands within [view_ts, view_ts + windowSec].
    * Both sides are real file-backed streams; the time-bound condition is
    * what lets Structured Streaming evict state (a view older than
    * watermark - window can never match a future purchase).
    *
    * Harness determinism: the watermark delay exceeds the feed's time
    * span, so no row is ever dropped as late regardless of file arrival
    * order and the append-mode result equals the batch interval join
    * exactly. Production tightens the delay to the real lateness contract
    * — same query graph, bounded state.
    */
  def streamStreamJoin(spark: SparkSession, events: DataFrame,
                       windowSec: Long, scratch: String): DataFrame = withStatePartitions(spark, 8) {
    val (views, purchases) = viewsAndPurchases(events)
    views.repartition(2).write.mode("overwrite").parquet(s"$scratch/views")
    purchases.repartition(2).write.mode("overwrite").parquet(s"$scratch/purchases")

    val vs = fileStream(spark, views.schema, s"$scratch/views", 1)
      .withWatermark("view_ts", "60 days")
    val ps = fileStream(spark, purchases.schema, s"$scratch/purchases", 1)
      .withWatermark("purchase_ts", "60 days")

    drain(vs.join(ps, purchaseInWindow(windowSec)), "append")
      .select(col("user_id"), col("view_id"),
        col("purchase_id"), col("view_ts"), col("purchase_ts"))
  }

  /** Write `df` into `path` as `buckets` event-time-range files with
    * strictly ascending modification times, so a file-backed stream
    * replays the feed in event-time order (FileStreamSource picks files
    * by mtime). This is what a real time-partitioned ingest layout
    * (hourly directories) gives a production stream for free — and it is
    * the property that lets a watermark delay SHORTER than the feed's
    * span drop nothing: each new file only carries timestamps at or
    * above everything already seen on its stream.
    */
  private def writeTimeOrdered(df: DataFrame, tsCol: String, path: String,
                               buckets: Int): Unit = {
    val Array(mn, mx) = df.agg(min(col(tsCol)).cast("long"),
      max(col(tsCol)).cast("long")).collect().head.toSeq.toArray.map(_.asInstanceOf[Long])
    val span = math.max(mx - mn + 1, 1L)
    // ONE pass: bucket by the same [lo_i, hi_i) boundaries the old
    // per-bucket filter loop used (a literal CASE chain), write
    // hive-partitioned (repartition by bucket ⇒ one file per bucket
    // dir), then flatten into the stream dir with strictly increasing
    // modtimes — the file source's arrival order. Replaces `buckets`
    // full filter+write scans per side with one.
    val his = (1 to buckets).map(i => mn + span * i / buckets)
    val ts = col(tsCol).cast("long")
    val bkt = his.init.zipWithIndex.foldRight(lit(buckets - 1)) {
      case ((hi, i), rest) => when(ts < hi, i).otherwise(rest)
    }
    val staging = path + "__staging"
    df.withColumn("__bkt", bkt)
      .repartition(col("__bkt"))
      .write.mode("overwrite").partitionBy("__bkt").parquet(staging)
    val out = new java.io.File(path)
    deleteRecursively(out)
    out.mkdirs()
    val base = System.currentTimeMillis()
    for (i <- 0 until buckets) {
      val dir = new java.io.File(staging, s"__bkt=$i")
      val files = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, j) =>
        val dst = new java.io.File(out, s"b${i}_${j}_${f.getName}")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(base + i * 1000L)
      }
    }
    deleteRecursively(new java.io.File(staging))
  }

  /** Stream-stream LEFT OUTER interval join: every view, with its
    * in-window purchase or NULLs once no future purchase can match.
    * Unlike [[streamStreamJoin]]'s inner shape, outer results REQUIRE
    * watermark-driven state eviction — a view emits its null row only
    * when the global watermark passes `view_ts + windowSec` — so this op
    * runs with a delay far shorter than the feed span and relies on
    * [[writeTimeOrdered]] event-time file order for zero late drops
    * (exactly a production hourly-partitioned replay). Views still open
    * when the feed ends never emit: the final result is matched pairs
    * plus null rows for views the final watermark
    * (min(max view_ts, max purchase_ts) − delay) closed — which is what
    * the DuckDB oracle reproduces, making eviction itself verified.
    */
  def streamStreamJoinOuter(spark: SparkSession, events: DataFrame,
                            windowSec: Long, delaySec: Long,
                            scratch: String): DataFrame = withStatePartitions(spark, 8) {
    val (views, purchases) = viewsAndPurchases(events)
    writeTimeOrdered(views, "view_ts", s"$scratch/views", 4)
    writeTimeOrdered(purchases, "purchase_ts", s"$scratch/purchases", 4)

    val vs = fileStream(spark, views.schema, s"$scratch/views", 1)
      .withWatermark("view_ts", s"$delaySec seconds")
    val ps = fileStream(spark, purchases.schema, s"$scratch/purchases", 1)
      .withWatermark("purchase_ts", s"$delaySec seconds")

    drain(vs.join(ps, purchaseInWindow(windowSec), "left_outer"), "append")
      .select(col("user_id"), col("view_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** Per-key session state: the set of sessions seen so far (epoch micros
    * boundaries + event count), plus an update counter so the final
    * emission per key is identifiable.
    */
  final case class Sess(startUs: Long, endUs: Long, n: Long)
  final case class SessState(sessions: List[Sess], updates: Long)

  /** Insert one event (epoch micros) into a session set by interval
    * clustering: the event joins — and bridges — every session whose
    * `[startSec - gap, endSec + gap]` range covers its second. Pure and
    * ORDER-INDEPENDENT: folding any permutation of an event multiset
    * through this yields the same sessions as batch gaps-and-islands
    * (property-tested in StreamingSpec). Gap arithmetic is on floor
    * seconds to mirror the batch operator's `ts.cast("long")`.
    */
  def mergeEvent(sessions: List[Sess], us: Long, gapSeconds: Long): List[Sess] = {
    val sec = us / 1000000L
    val (hit, rest) = sessions.partition { s =>
      sec >= s.startUs / 1000000L - gapSeconds &&
        sec <= s.endUs / 1000000L + gapSeconds
    }
    Sess(
      (us :: hit.map(_.startUs)).min,
      (us :: hit.map(_.endUs)).max,
      1L + hit.map(_.n).sum) :: rest
  }

  final case class SessionRow(key: Long, update: Long, session_id: Long,
                              start_us: Long, end_us: Long, n_events: Long)

  /** Stateful streaming sessionization via `flatMapGroupsWithState`
    * (SURVEY §2.9 custom-state surface). State is merged by interval
    * clustering: an event joins every session whose `[start-gap, end+gap]`
    * second-range covers it (and bridges them into one). Because a
    * session's events chain at ≤ gap spacing, that membership test is
    * exactly "within gap of some event of the session", so the final
    * components equal the batch gaps-and-islands result — for ANY arrival
    * order and ANY batching. No ordering assumption means the harness can
    * stream plain files; at scale the same code runs with a watermark +
    * EventTimeTimeout evicting sessions older than the watermark minus
    * gap (they can no longer be extended or bridged).
    *
    * Gap arithmetic is on floor(epoch seconds) to mirror the batch
    * operator's `ts.cast("long")` truncation.
    */
  def statefulSessionize(spark: SparkSession, events: DataFrame,
                         gapSeconds: Long, scratch: String): DataFrame = withStatePartitions(spark, 8) {
    import spark.implicits._

    def update(key: Long, it: Iterator[(Long, Timestamp, Long)],
               state: GroupState[SessState]): Iterator[SessionRow] = {
      var st = state.getOption.getOrElse(SessState(Nil, 0L))
      it.foreach { case (_, ts, _) =>
        // getTime carries millis and getNanos the full fractional second —
        // build micros from whole seconds + nanos to avoid double-counting
        val us = math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
        st = st.copy(sessions = mergeEvent(st.sessions, us, gapSeconds))
      }
      st = SessState(st.sessions, st.updates + 1)
      state.update(st)
      // re-emit the full session list tagged with the update counter; the
      // rows from each key's LAST update are the final sessions
      val sorted = st.sessions.sortBy(_.startUs)
      sorted.zipWithIndex.iterator.map { case (s, i) =>
        SessionRow(key, st.updates, i + 1L, s.startUs, s.endUs, s.n)
      }
    }

    // 2 triggers: the session-merge state is arrival-order-independent
    // (mergeEvent is a commutative interval merge), so the final
    // sessions only need "more than one update" to prove statefulness
    val sessions = drain(events5Stream(spark, events, scratch, filesPerTrigger = 2)
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update),
      "append")

    // final = each key's last update
    val w = Window.partitionBy(col("key"))
    sessions
      .withColumn("last_update", max(col("update")).over(w))
      .filter(col("update") === col("last_update"))
      .select(col("key"), col("session_id"),
        expr("timestamp_micros(start_us)").as("session_start"),
        expr("timestamp_micros(end_us)").as("session_end"),
        col("n_events"))
  }
}
