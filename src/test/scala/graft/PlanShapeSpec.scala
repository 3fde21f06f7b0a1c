package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the round-6 continuation
  * operators — the executable form of the scale claims in OPERATORS.md
  * and PLANS.md (a broadcast that silently becomes a shuffle join, or a
  * top-k that becomes a global sort, is a scale regression correctness
  * tests can't see).
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("entity_resolution: catalog blockings are broadcast joins, " +
       "never cartesian") {
    val p = plan("entity_resolution")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("skew_diagnose and the retrieval top-ks use distributed " +
       "TakeOrdered, not a global sort of the key table") {
    assert(plan("skew_diagnose").contains("TakeOrderedAndProject"))
    assert(plan("search_bm25").contains("TakeOrderedAndProject"))
    assert(plan("search_ranked").contains("TakeOrderedAndProject"))
  }

  test("cooccur_pmi: basket pair expansion is an equi-join (the only " +
       "nested-loop join is the 1-row totals scalar)") {
    val p = plan("cooccur_pmi")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("mad_outliers: group stats come back as broadcast joins") {
    val p = plan("mad_outliers")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("near-dedup funnel degrades to shuffle joins when broadcast is " +
       "disabled — no forced corpus-proportional broadcast hints survive") {
    // The round-7 weak items: nearDupJaccardChars' signature prefilter
    // and the candidate-doc semi-joins used to FORCE broadcast() on
    // corpus-proportional tables (~300 GB at 1e9 docs). With the hints
    // removed, AQE owns the decision: threshold=-1 must yield a plan
    // with zero broadcast joins (the 100 TB degradation path).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // the cache manager is CONTEXT-global and matches by canonical plan:
    // if an earlier suite already ran these ops under default conf, the
    // persisted pair/shingle fragments replay here as InMemoryRelations
    // whose STORED plan strings contain the broadcasts compiled back
    // then — a false positive (nothing re-broadcasts; the bytes are
    // cached). Clear it so this session compiles the funnel fresh.
    s.sharedState.cacheManager.clearCache()
    for (name <- Seq("near_dedup_chars", "near_dedup", "containment_pairs")) {
      val df = SparkEntry.queries(name)(s, sf)
      df.collect() // AQE finalizes the plan only on execution
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"$name still broadcasts with autoBroadcastJoinThreshold=-1")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"$name lost its joins entirely")
    }
  }

  test("near-dedup funnel still gets AQE runtime broadcasts at small " +
       "scale (removing the hints cost no small-SF performance)") {
    val df = SparkEntry.queries("near_dedup_chars")(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("AQE splits a skewed shuffle-join partition at runtime " +
       "(skew=true in the final plan) — the moderate-skew path " +
       "Distribute.saltedJoin defers to") {
    // SCALE.md's "what breaks first" leans on AQE skew-join for
    // moderate hot keys (explicit salting is only for the pathological
    // single-key-exceeds-an-executor case). Prove the mechanism fires:
    // one hot key carrying ~2/3 of the bytes, broadcast disabled so the
    // join must shuffle, skew thresholds lowered to test-data scale.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.{col, lit, when, rpad}
    // 40k rows on the hot key 0 + 20k spread over 64 cold keys; 64-byte
    // padding makes the hot partition dwarf the 32k skew threshold
    val big = s.range(60000).select(
      when(col("id") < 40000, lit(0L)).otherwise(col("id") % 64).as("k"),
      rpad(col("id").cast("string"), 64, "x").as("pad"))
    val small = s.range(64).select(col("id").as("k"), col("id").as("v"))
    val joined = big.join(small, "k")
    // execute THIS dataframe (count() would finalize a different plan)
    assert(joined.collect().length === 60000)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"AQE did not split the skewed partition; final plan:\n$p")
  }

  test("AQE splits the char-funnel band self-join on a giant template " +
       "bucket (skew=true on the REAL operator, not a synthetic join)") {
    // The r12 skew resolution (BENCH_NOTES §Round 12): the fused LSH
    // generator keeps the plain (band, key) self-join — 2.0–3.5×
    // faster than both manual mitigations — BECAUSE a shuffle join is
    // the one shape OptimizeSkewedJoin can re-split at runtime, even
    // for a SINGLE giant bucket. Prove that on the operator itself:
    // 600 identical template docs (one ~180 KB bucket per band, far
    // over the lowered 32 KB threshold) + 60 unique docs, broadcast
    // disabled so the join must shuffle.
    import graft.ops.TextDedup
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.sharedState.cacheManager.clearCache()
    val template =
      "the quick brown fox jumps over the lazy dog again and again " * 3
    val docs = s.range(660).select(col("id").as("doc_id"),
      when(col("id") < 600, lit(template)).otherwise(
        concat(lit("unique filler payload number "),
          col("id").cast("string"), lit(" tail "),
          (col("id") * 7).cast("string"))).as("text"))
    val hashed = TextDedup.charHashedShingles(
      TextDedup.charShingleHashes(docs, 5)).persist()
    val sigs = TextDedup.minhashSigs(hashed, TextDedup.charNumHashes,
      TextDedup.lshPrime).persist()
    try {
      val cand = TextDedup.charFusedCandidates(hashed, sigs, maxDf = 5,
        bands = 32, threshold = 0.5, margin = 0.22)
      // execute THIS dataframe; identical docs agree on all 64 lanes,
      // so every giant-bucket pair survives the prefilter
      val n = cand.collect().length
      assert(n >= 600 * 599 / 2, s"giant bucket admitted only $n pairs")
      val p = cand.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        "join broadcast despite threshold=-1 — skew test did not shuffle")
      assert(p.contains("skew=true"),
        s"AQE did not split the giant template bucket; final plan:\n" +
        p.take(4000))
    } finally { hashed.unpersist(); sigs.unpersist() }
  }

  test("AQE coalesces over-partitioned small shuffles at runtime " +
       "(AQEShuffleRead coalesced) — why shuffle.partitions can be " +
       "sized for the LARGEST stage without taxing the small ones") {
    // SCALE.md sizes spark.sql.shuffle.partitions for the biggest
    // aggregation; every smaller stage then over-partitions. The
    // design leans on AQE folding those empty/tiny reducers back
    // together — prove the mechanism fires.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "200")
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    import org.apache.spark.sql.functions.col
    val df = s.range(10000).groupBy((col("id") % 97).as("k")).count()
    assert(df.collect().length === 97)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"AQE did not coalesce the 200-way shuffle; final plan:\n$p")
    assert(df.rdd.getNumPartitions < 200)
  }

  test("join_cardinality_est never runs the estimated join itself") {
    val p = plan("join_cardinality_est")
    // the join being sized would be lineitem x lineitem on partkey;
    // the estimator's own joins are on pre-aggregated key-count tables,
    // whose plans contain aggregates BELOW every join
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dq_rules: the whole rule catalog folds into one scan") {
    val p = plan("dq_rules")
    // one FileScan of events, however many rules are registered
    assert("FileScan".r.findAllIn(p).size === 1)
  }

  test("gopher_repetition: all nine n-gram folds are one projection " +
       "over one scan — the only exchange is Par.widen's round-robin") {
    val p = plan("gopher_repetition")
    assert("FileScan".r.findAllIn(p).size === 1)
    assert("Exchange".r.findAllIn(p).size === 1)
    assert(p.contains("RoundRobinPartitioning")) // not a key shuffle
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("shard_manifest: one scan into a map-side-combined (partial + " +
       "final) aggregate — only the tiny partials shuffle") {
    val p = plan("shard_manifest")
    assert("FileScan".r.findAllIn(p).size === 1)
    assert("HashAggregate".r.findAllIn(p).size === 2) // partial + final
    assert("Exchange".r.findAllIn(p).size === 1)
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("quality_prune_curve: the cumulative window reads the decile " +
       "buckets (post-aggregation), never corpus rows") {
    val df = SparkEntry.queries("quality_prune_curve")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(p).size === 1)
    // window sits above the bucket HashAggregate: the single-partition
    // sort touches <= 10 rows by construction
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "window must consume the aggregated buckets, not raw docs")
  }
}
