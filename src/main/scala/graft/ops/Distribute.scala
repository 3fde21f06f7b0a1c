package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distribution-strategy operators: the two standard answers to shuffle
  * pain at 100 TB — key salting for skewed joins and bucketing for
  * co-located (shuffle-free) joins. Results are identical to the plain
  * join; only the physical distribution changes, so both are
  * oracle-verifiable against the unsalted/unbucketed SQL.
  */
object Distribute {

  /** Fully remove a managed table: catalog entry AND warehouse location.
    * A fresh session's in-memory catalog doesn't know tables written by a
    * previous session, so `DROP TABLE IF EXISTS` is a no-op while the
    * warehouse dir persists — the next CTAS/saveAsTable then fails with
    * LOCATION_ALREADY_EXISTS. Every managed-table writer must clear both.
    */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    deleteRecursively(loc)
  }

  /** Depth-first delete: handles partitioned/bucketed table layouts
    * (nested `part=…/` dirs) that a single-level listFiles sweep leaves
    * behind, and tolerates the location being a plain file (listFiles
    * returns null there).
    */
  private[graft] def deleteRecursively(f: java.io.File): Unit =
    if (f.exists()) {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
      f.delete(): Unit
    }

  /** Skew-safe equi-join: the big (skewed) side gets a deterministic salt
    * in [0, salts); the small side is replicated once per salt value; the
    * join key becomes (key, salt). A hot key's rows now spread over
    * `salts` reducers instead of one. `bigSalt` must be a deterministic
    * per-row expression (e.g. `pmod(hash(rowId), salts)`) — never
    * `rand()`, which would break retries and verification.
    *
    * (AQE's skew-join handles moderate skew automatically; explicit
    * salting is for the pathological hot-key case AQE can't split, e.g.
    * a single key exceeding one executor's memory. That AQE path is
    * PROVED, not assumed: PlanShapeSpec's "AQE splits a skewed
    * shuffle-join partition" case runs a hot-key join with lowered skew
    * thresholds and asserts `skew=true` in the final adaptive plan.)
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 bigSalt: Column, salts: Int): DataFrame = {
    val salted = big.withColumn("__salt", pmod(bigSalt, lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** NULL-key bypass for LEFT OUTER joins on a sparse foreign key — the
    * third standard skew shape beside hot keys and small files. An inner
    * join gets `IsNotNull` pushed down by Catalyst for free, but a left
    * outer join must RETAIN null-key probe rows, and `hash(null)` is a
    * constant: every null-key row lands in ONE reducer partition of the
    * shuffle. On a 30%-null FK over 10¹⁰ rows that partition is 3·10⁹
    * rows sort-merging against nothing (AQE can split it, but each
    * split still sorts rows that cannot match by definition). The fix is
    * algebraic, not adaptive: null-key rows can never match, so route
    * them AROUND the join as a pure projection with null-extended build
    * columns, and join only the non-null rows. Result is identical to
    * the plain left join; only the nulls' path changes — they never
    * enter a shuffle at all.
    *
    * `leftKey` must be a column of `left` named `keyName`; `right`'s
    * columns must not collide with `left`'s (standard join hygiene —
    * select/alias upstream).
    */
  def nullSkewLeftJoin(left: DataFrame, right: DataFrame,
                       keyName: String, rightKey: String): DataFrame = {
    val matched = left.filter(col(keyName).isNotNull)
      .join(right, col(keyName) === col(rightKey), "left")
    val bypass = right.schema.fields.foldLeft(
      left.filter(col(keyName).isNull)) { (d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType))
      }
    matched.unionByName(bypass)
  }

  /** Z-order (Morton) value of two non-negative integer keys: bits of
    * `a` and `b` interleaved, so rows close in BOTH dimensions get close
    * z values. Sorting/range-partitioning the table by z before writing
    * clusters multidimensional locality into files — min/max column
    * stats then prune scans filtered on EITHER key (the data-skipping
    * layout trick for two-key workloads, vs a plain sort that only helps
    * its leading key).
    *
    * The interleave unrolls at PLAN-BUILD time into a sum of static
    * shift/mask terms — `bits` is a Scala constant, so every shift
    * amount is a literal and the whole z value stays inside whole-stage
    * codegen (an earlier higher-order `aggregate` fold with per-element
    * `pow()` ran interpreted and cost 20 s at sf0.1; this form is pure
    * bitwise arithmetic).
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits <= 31, s"z-order bit budget $bits overflows the long interleave")
    val al = zGuard(a, bits)
    val bl = zGuard(b, bits)
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Fail loudly when a key is outside [0, 2^bits): bits above the
    * budget would be SILENTLY dropped by the interleave, making distant
    * keys collide in z and quietly degrading the clustering layout (an
    * oracle computing the same truncation can never catch it). The guard
    * is plain comparison arithmetic, so the z expression stays inside
    * whole-stage codegen.
    */
  private def zGuard(c: Column, bits: Int): Column = {
    val cap = 1L << bits
    val cl = c.cast("long")
    when(cl >= cap || cl < 0, raise_error(concat(
      lit(s"z-order key exceeds $bits-bit budget [0, $cap): "), cl.cast("string"))))
      .otherwise(cl)
  }

  /** Z-order clustering layout: range-partition on the interleaved key
    * and sort within partitions, the exact shape of an OPTIMIZE ZORDER BY
    * table rewrite — each output file covers a compact z-range, so its
    * (a, b) min/max stats are tight and scans filtered on either key
    * skip most files.
    */
  def zOrderLayout(df: DataFrame, a: Column, b: Column, bits: Int,
                   partitions: Int): DataFrame =
    df.withColumn("z", zValue(a, b, bits))
      .repartitionByRange(partitions, col("z"))
      .sortWithinPartitions(col("z"))

  /** Skew-safe two-stage aggregation: partial aggregate on (keys, salt),
    * final aggregate on keys. A hot key's partials spread over `salts`
    * reducers in stage 1; stage 2 only combines `salts` pre-aggregated
    * rows per key. Identical result to the plain groupBy (sum and count
    * are commutative monoids — decimal sums stay exact), so it
    * oracle-verifies against the unsalted SQL. This is the manual escape
    * hatch for the case hash-agg's map-side combine can't save: a key so
    * hot its partial states themselves overwhelm one reducer.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], value: Column,
                salt: Column, salts: Int): DataFrame = {
    val keyCols = keys.map(col)
    df.withColumn("__salt", pmod(salt, lit(salts)))
      .groupBy((keyCols :+ col("__salt")): _*)
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pn"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__psum")).as("sum_value"), sum(col("__pn")).as("n"))
  }

  /** Zone-map (min/max statistics) file pruning, end to end: lay the
    * table out range-partitioned + sorted on `sortCol` (each file then
    * covers a tight value range), harvest per-file min/max from the
    * `_metadata` column, keep only files whose range overlaps the
    * predicate, and scan just those. This is the data-skipping payoff a
    * Z-ORDER/sorted layout exists to buy; the driver holds only the
    * FILE LIST (bounded metadata, like dynamic partition pruning), never
    * rows. Result is identical to the full-scan filter — which is what
    * the oracle checks.
    */
  def zonemapPrune(spark: SparkSession, df: DataFrame, sortCol: String,
                   scratchDir: String, lo: Double, hi: Double,
                   ranges: Int = 8): DataFrame = {
    df.repartitionByRange(ranges, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(scratchDir)
    val stats = graft.Tables.parquet(spark, scratchDir)
      .select(col(sortCol), col("_metadata.file_path").as("f"))
      .groupBy(col("f"))
      .agg(min(col(sortCol)).as("mn"), max(col(sortCol)).as("mx"))
    // the keep-list collect is BOUNDED: limit(maxKeepFiles + 1) caps
    // what the driver ever holds (like a broadcast threshold); a spill
    // past the cap falls back to the full scan + filter — identical
    // result, just no skipping, which is the honest trade once the
    // predicate stops being selective enough for pruning to pay anyway
    val maxKeepFiles = 100000
    val keep = stats.filter(col("mx") >= lo && col("mn") <= hi)
      .select(col("f")).limit(maxKeepFiles + 1).collect().map(_.getString(0))
    // an empty keep-list is a VALID pruning outcome (a fully selective
    // predicate), not an error — return an empty frame with the input
    // schema, exactly what the full-scan filter would produce
    if (keep.isEmpty) df.filter(lit(false))
    else if (keep.length > maxKeepFiles)
      graft.Tables.parquet(spark, scratchDir)
        .filter(col(sortCol) >= lo && col(sortCol) <= hi)
    else graft.Tables.parquet(spark, keep.toIndexedSeq: _*)
      .filter(col(sortCol) >= lo && col(sortCol) <= hi)
  }

  /** Parquet BLOOM-FILTER layout + point lookup — the data-skipping
    * tool for the predicate zone maps can't help with: an equality /
    * IN probe on a HIGH-CARDINALITY key that the file layout is NOT
    * sorted by (min/max ranges on an unsorted key span everything, so
    * zone maps prune nothing). The writer embeds a split-block bloom
    * filter per row group for `keyCol`
    * (`parquet.bloom.filter.enabled#col`, public parquet-mr feature);
    * the reader's row-group filter then drops groups whose bloom
    * filter proves the probed keys absent — false positives cost a
    * read, never a wrong row, so the result is identical to the
    * full-scan filter (the oracle check). At 100 TB this is the
    * difference between a point lookup touching a few row groups and
    * touching every file of a 10⁹-key table; `ndv` sizes the filter
    * (~1.2 MB per row group at 10⁶ ndv / 1% fpp, footer-resident).
    * The clustered `repartition` on the key concentrates each key in
    * one file so a probe's surviving-group count is O(probe size).
    * `BloomLayoutSpec` opens the parquet footers and asserts the
    * filters are really there (offset > 0, readable, probed keys
    * positive) — presence, not vibes.
    */
  def bloomLayout(spark: SparkSession, df: DataFrame, keyCol: String,
                  scratchDir: String, lookup: Seq[Long],
                  ndv: Long = 1000000L, files: Int = 8): DataFrame = {
    df.repartition(files, col(keyCol))
      .write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$keyCol", ndv.toString)
      .parquet(scratchDir)
    graft.Tables.parquet(spark, scratchDir)
      .filter(col(keyCol).isin(lookup: _*))
  }

  /** Multi-column data skipping over a Z-ORDERED layout — the payoff
    * [[zOrderLayout]] exists to buy, closed end to end: write the table
    * z-clustered on (a, b), harvest per-file min/max for BOTH columns
    * from `_metadata`, keep only files whose (a, b) box overlaps the
    * query box, scan just those. Because each file covers a compact
    * z-range, its min/max are tight on BOTH dimensions, so a 2-D box
    * predicate skips files a single-column sort could only skip on one
    * dimension. Result is identical to the full-scan filter (the oracle
    * check); the driver holds only the keep-list, bounded by
    * `maxKeepFiles` with a full-scan fallback past the cap (the same
    * planning-cost bound as [[zonemapPrune]]).
    */
  def zOrderPrune(spark: SparkSession, df: DataFrame, a: String, b: String,
                  bits: Int, scratchDir: String,
                  loA: Long, hiA: Long, loB: Long, hiB: Long,
                  partitions: Int = 32,
                  maxKeepFiles: Int = 100000): DataFrame = {
    zOrderLayout(df, col(a), col(b), bits, partitions)
      .write.mode("overwrite").parquet(scratchDir)
    val stats = graft.Tables.parquet(spark, scratchDir)
      .select(col(a), col(b), col("_metadata.file_path").as("f"))
      .groupBy(col("f"))
      .agg(min(col(a)).as("mna"), max(col(a)).as("mxa"),
        min(col(b)).as("mnb"), max(col(b)).as("mxb"))
    val keep = stats
      .filter(col("mxa") >= loA && col("mna") <= hiA &&
        col("mxb") >= loB && col("mnb") <= hiB)
      .select(col("f")).limit(maxKeepFiles + 1).collect().map(_.getString(0))
    val pred = col(a) >= loA && col(a) <= hiA &&
      col(b) >= loB && col(b) <= hiB
    val base =
      if (keep.isEmpty) graft.Tables.parquet(spark, scratchDir).filter(lit(false))
      else if (keep.length > maxKeepFiles) graft.Tables.parquet(spark, scratchDir)
      else graft.Tables.parquet(spark, keep.toIndexedSeq: _*)
    base.filter(pred).drop("z")
  }

  /** Dynamic partition pruning, end to end: lay the fact table out
    * hive-partitioned by day, then join it to a SELECTIVE dimension on
    * the partition column — Catalyst injects the dimension's day set as
    * a runtime partition filter (`dynamicpruning` subquery in the scan's
    * PartitionFilters, spec-asserted), so the fact scan READS only the
    * matching day directories. This is THE mechanism that makes
    * star-joins over date-partitioned 100 TB facts feasible: the scan
    * cost tracks the dimension's selectivity, not the fact's history
    * length — no manual pruning code, just the partitioned layout plus
    * a declarative join. Result equals the plain join (the oracle).
    */
  def dppJoin(spark: SparkSession, events: DataFrame, scratchDir: String,
              dayLo: Int, dayHi: Int): DataFrame = {
    val fact = events.select(col("event_id"), col("user_id"),
        col("value"), to_date(col("ts")).as("day"))
    fact.write.mode("overwrite").partitionBy("day").parquet(scratchDir)
    val part = graft.Tables.parquet(spark, scratchDir)
    // the selective dimension: distinct days tagged, filtered to the
    // [dayLo, dayHi] day-of-month slice — built small and broadcastable
    val dim = fact.select(col("day")).distinct()
      .filter(dayofmonth(col("day")).between(dayLo, dayHi))
    part.join(dim, Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .select(col("day").cast("string").as("day"), col("n"),
        col("sum_cents"))
  }

  /** Bloom-filter pre-join pruning, the runtime-filter pattern made
    * explicit: hash every build-side key into `k` of `mBits` positions
    * (same arithmetic family as [[Profile.cmsEstimate]] — exact BIGINT,
    * so the filter content is bit-reproducible across engines), reduce
    * to the distinct set-bit table (≤ mBits rows regardless of build
    * size), broadcast it, and keep the probe rows whose k positions are
    * all set — as a CHAIN of k broadcast hash semi-joins, so the probe
    * side streams through O(1) hash lookups and NEVER shuffles (a
    * first cut counted hits via explode + groupBy; the plan audit
    * showed that re-shuffles the exploded probe, which defeats the
    * filter's whole purpose — pruning BEFORE any exchange). The output
    * deliberately INCLUDES the false positives plus a ground-truth
    * flag: at 100 TB the surviving candidate set (true matches +
    * bounded FP leakage) is what the exact join afterwards actually
    * sees, and the FP rate is itself oracle-verified. Spark's own
    * `InjectRuntimeFilter` does this invisibly when stats allow; this
    * operator is the engine-owned version with the behavior observable.
    */
  def bloomSemiJoin(probe: DataFrame, probeKey: Column,
                    build: DataFrame, buildKey: Column,
                    mBits: Int = 8192, k: Int = 3): DataFrame = {
    val p = 2038074743L
    val aC = Seq(1000003L, 999983L, 824633L)
    val bC = Seq(12345L, 54321L, 98765L)
    require(k <= aC.length, s"bloomSemiJoin: at most ${aC.length} hashes")
    def pos(i: Int, key: Column): Column =
      pmod(pmod(key * lit(aC(i)) + lit(bC(i)), lit(p)), lit(mBits.toLong))

    val bits = build.select(explode(array((0 until k).map(i =>
        pos(i, buildKey)): _*)).as("bit")).distinct()
    val truth = build.select(buildKey.as("__k")).distinct()

    // k successive membership tests, each a broadcast semi-join of the
    // same ≤mBits-row set-bit table — the probe is never exchanged
    val pass = (0 until k).foldLeft(probe.withColumn("__k", probeKey)) {
      (df, i) => df.join(broadcast(bits), pos(i, col("__k")) === col("bit"),
        "left_semi")
    }
    pass.join(broadcast(truth).withColumn("__true", lit(true)),
        Seq("__k"), "left")
      .select(probe.columns.map(col) :+
        coalesce(col("__true"), lit(false)).as("is_match"): _*)
  }

  /** Co-located join via bucketed managed tables: both sides written
    * `bucketBy(n, key)` + `sortBy(key)`, then joined — the exchange
    * disappears from the plan (SortMergeJoin reads pre-bucketed files).
    * This is the "pre-shuffle once, join many times" pattern: at 100 TB
    * you pay the layout cost at ingest and every subsequent join on the
    * bucket key is shuffle-free.
    */
  def bucketedJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String, buckets: Int,
                   tablePrefix: String): DataFrame = {
    val lt = s"${tablePrefix}_l"
    val rt = s"${tablePrefix}_r"
    Seq(lt, rt).foreach(dropManagedTable(spark, _))
    left.write.mode("overwrite")
      .bucketBy(buckets, leftKey).sortBy(leftKey).saveAsTable(lt)
    right.write.mode("overwrite")
      .bucketBy(buckets, rightKey).sortBy(rightKey).saveAsTable(rt)
    spark.table(lt).join(spark.table(rt),
      col(leftKey) === col(rightKey))
  }

  /** Key-skew diagnosis: the top-N heaviest keys with their share of all
    * rows and the running concentration (cumulative share) — the report
    * you run BEFORE choosing between a plain join, [[saltedAgg]]-style
    * salting, or an AQE skew hint. A key owning >1/parallelism of the
    * rows is the straggler signature.
    *
    * Scale: one map-side-combined count per key, then a distributed
    * TakeOrdered (`orderBy.limit`) — the full key-count table is NEVER
    * sorted through one partition; only the N survivors hit the final
    * cum-share window. The total rides the counts' exchange. Shares are
    * single divisions of exact longs.
    */
  /** Join-cardinality estimation by correlated key sampling — the
    * planner-adjacent guard run BEFORE an expensive join: sample the KEY
    * SPACE with a deterministic hash (both sides keep the same keys, so
    * per-key products survive intact — row-level Bernoulli sampling
    * would break them), compute the exact output size on the 1/`rate`
    * key slice, scale up. Estimating Σ cᴬ(k)·cᴮ(k) this way costs two
    * filtered aggregations instead of the join itself; at 100 TB it is
    * how you notice a quadratic key blowup (see [[skewDiagnose]])
    * before paying for it. All arithmetic is integer-exact; the
    * estimate, the exact truth, and their ratio ship in one row so the
    * estimator's quality is itself oracle-verified.
    */
  def joinCardinalityEst(left: DataFrame, leftKey: Column,
                         right: DataFrame, rightKey: Column,
                         rate: Int = 8): DataFrame = {
    // the engine's portable key hash (same family as Shard.splitCol)
    def sampled(k: Column): Column =
      pmod(pmod(k * lit(1000003L), lit(1000000007L)), lit(rate.toLong)) === 0
    def counts(df: DataFrame, k: Column, as: String): DataFrame =
      df.groupBy(k.as("k")).agg(count(lit(1)).as(as))
    val exact = counts(left, leftKey, "ca")
      .join(counts(right, rightKey, "cb"), "k")
      .agg(sum(col("ca") * col("cb")).as("exact_pairs"))
    val est = counts(left.filter(sampled(leftKey)), leftKey, "ca")
      .join(counts(right.filter(sampled(rightKey)), rightKey, "cb"), "k")
      .agg((sum(col("ca") * col("cb")) * rate).as("est_pairs"))
    est.crossJoin(exact)
      .select(col("est_pairs"), col("exact_pairs"),
        (col("est_pairs").cast("double") / col("exact_pairs"))
          .as("est_ratio"))
  }

  def skewDiagnose(df: DataFrame, key: Column, topN: Int = 20): DataFrame = {
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val top = counts.orderBy(col("n").desc, col("key").asc).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("key").asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("share", col("n").cast("double") / col("total"))
      .withColumn("cum_share",
        sum(col("n")).over(w.rowsBetween(Long.MinValue, 0)).cast("double") /
          col("total"))
      .select(col("key"), col("n"), col("rank"), col("share"),
        col("cum_share"))
  }
}
