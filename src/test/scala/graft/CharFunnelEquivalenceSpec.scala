package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextDedup

/** Pins the round-11 fusion's correctness argument as a property, not
  * prose: the fused candidate builder (signature-agreement filter run
  * INSIDE the band self-join / on the rare-pair stream) must admit
  * EXACTLY the pair set of the staged r10 shape
  * (union → distinct → signature joins → filter) — the equivalence
  * filter∘distinct∘union ≡ distinct∘union∘filter for a per-pair
  * predicate, which holds only while the fused path applies the SAME
  * predicate with the SAME minAgree to BOTH generators. A future edit
  * that, say, drops the prefilter on the rare path (an attractive
  * "optimization" — it only ADDS decision work, the final output is
  * unchanged) would silently break the documented equivalence; this
  * spec makes that a red test instead of a stale scaladoc.
  *
  * The staged reference is reconstructed HERE — the exact round-10
  * composition, kept in the test so the op code carries no dead path:
  * [[TextDedup.bandsOf]] and [[TextDedup.pairIntersections]] from the
  * op, plus `bucketPairs`, the round-10 groupBy-collect bucket
  * expansion, which no operator uses any more and so lives here.
  *
  * The same discipline pins the op's single exact decision
  * ([[TextDedup.decideJaccard]] on the funnel's own hashed rows)
  * against the three-stage composition it replaced — a 31-bit hashed-set
  * Jaccard with a 0.04 margin, then the survivor docs re-exploded from
  * the text and decided by [[TextDedup.verifyJaccard]] — rebuilt here
  * as the reference.
  */
class CharFunnelEquivalenceSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val n = 5
  private val threshold = 0.5

  /** Bucket table (doc_id, band, key) → candidate pairs (doc_a < doc_b),
    * NOT deduplicated across buckets. */
  private def bucketPairs(buckets: DataFrame): DataFrame = {
    // The pair explosion runs INSIDE the aggregation's partitions, and
    // its output is up to C(bucket,2)-fold larger than its input — on
    // template corpora a handful of giant buckets dominate, so the
    // stage's tail is whichever partition their keys hash into
    // (measured: a band-key representation change moved the char
    // funnel ±25% at 32 partitions purely by re-rolling that placement,
    // BENCH_NOTES round-8 session 6). Pre-partitioning by the grouping
    // key at 8× the session's shuffle sizing spreads the giants; the
    // aggregate reuses the partitioning (no second exchange), the
    // input rows are (band, key, id) — cheap to move at any scale —
    // and downstream stages return to the session's sizing at their
    // next shuffle.
    val fanout = buckets.sparkSession.sessionState.conf.numShufflePartitions * 8
    buckets.repartition(fanout, col("band"), col("key"))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(TextDedup.pairsOf(col("ds"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
  }

  private def stagedCandidates(hashed: DataFrame, sigs: DataFrame,
                               cap: Int, bands: Int,
                               margin: Double): DataFrame = {
    val minAgree =
      math.max(0, math.ceil((threshold - margin) *
        TextDedup.charNumHashes)).toInt
    val sigInts = sigs.select(col("doc_id"),
      transform(col("sig"), v => v.cast("int")).as("sig"))
    val cand =
      bucketPairs(TextDedup.bandsOf(sigs, TextDedup.charNumHashes, bands))
      .unionByName(TextDedup.pairIntersections(
        hashed.withColumnRenamed("x", "shingle"), cap)
        .select(col("doc_a"), col("doc_b")))
      .distinct()
    cand
      .join(sigInts.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigInts.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .filter(size(filter(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, lit(1))), e => e.isNotNull)) >= minAgree)
      .select(col("doc_a"), col("doc_b"))
  }

  test("fused candidate set == staged r10 candidate set (sf0.001)") {
    val spark = TestSpark.spark
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val (bands, cap, margin) =
      TextDedup.charFunnelParams(threshold, docs.count())
    val hashed = TextDedup.charHashedShingles(
      TextDedup.charShingleHashes(docs, n)).persist()
    val sigs = TextDedup.minhashSigs(hashed, TextDedup.charNumHashes,
      TextDedup.lshPrime).persist()
    try {
      val fused = TextDedup
        .charFusedCandidates(hashed, sigs, cap, bands, threshold, margin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val staged = stagedCandidates(hashed, sigs, cap, bands, margin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fused.nonEmpty, "degenerate: zero candidates on the gate corpus")
      val onlyFused = fused -- staged
      val onlyStaged = staged -- fused
      assert(onlyFused.isEmpty && onlyStaged.isEmpty,
        s"candidate sets diverged: ${onlyFused.size} only-fused " +
        s"(e.g. ${onlyFused.take(3)}), ${onlyStaged.size} only-staged " +
        s"(e.g. ${onlyStaged.take(3)})")
    } finally { hashed.unpersist(); sigs.unpersist() }
  }

  /** The pre-single-decision shape of nearDupJaccardChars after its
    * candidate stage: the 31-bit set Jaccard with a 0.04 margin, then
    * the exact decision on the survivors' re-exploded strings. */
  private def threeStageDecision(docs: DataFrame, pre: DataFrame,
                                 hashed: DataFrame): DataFrame = {
    val iSets = hashed.groupBy(col("doc_id"))
      .agg(collect_set(col("x")).as("iset"))
      .select(col("doc_id"), col("iset"), size(col("iset")).as("ni"))
    val nearExact = pre
      .join(iSets.select(col("doc_id").as("doc_a"), col("iset").as("ia"),
        col("ni").as("na")), "doc_a")
      .join(iSets.select(col("doc_id").as("doc_b"), col("iset").as("ib"),
        col("ni").as("nb")), "doc_b")
      .withColumn("ii", size(array_intersect(col("ia"), col("ib"))))
      .filter(col("ii").cast("double") / (col("na") + col("nb") - col("ii"))
        >= threshold - 0.04)
      .select(col("doc_a"), col("doc_b"))
    val survDocs = nearExact.select(col("doc_a").as("doc_id"))
      .unionByName(nearExact.select(col("doc_b").as("doc_id")))
      .distinct()
    TextDedup.verifyJaccard(nearExact,
      TextDedup.charShingles(docs.join(survDocs, Seq("doc_id"), "left_semi"), n),
      threshold)
  }

  /** Pairs of docs over all-distinct characters (so every 5-gram is
    * distinct): A = P·Q, B = P·R with |Q| = |R| = q share the |P| − 4
    * grams inside P, so J = (p − 4)/(p + 2q − 4), exactly 1/2 at
    * p = 2q + 4. Each q gives three pairs: p − 1 (J just below 0.5),
    * p (J = 0.5) and p + 1 (just above). Families never share a char.
    * Returns the docs and the pairs expected at threshold 0.5. */
  private def thresholdFamily(): (DataFrame, Set[(Long, Long)]) = {
    val spark = TestSpark.spark
    import spark.implicits._
    var next = 0x4E00
    def run(len: Int): String = {
      val s = (next until next + len).map(_.toChar).mkString
      next += len
      s
    }
    val rows = for {
      (q, f) <- Seq(20, 30).zipWithIndex
      (dp, g) <- Seq(-1, 0, 1).zipWithIndex
    } yield {
      val p = run(2 * q + 4 + dp)
      val id = 100L * f + 10L * g
      (dp, Seq((id + 1, p + run(q)), (id + 2, p + run(q))))
    }
    val docs = rows.flatMap(_._2).toDF("doc_id", "text")
    val expected = rows.collect { case (dp, Seq((a, _), (b, _))) if dp >= 0 => (a, b) }
    (docs, expected.toSet)
  }

  private def jaccards(df: DataFrame): Map[(Long, Long), Long] =
    df.select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        java.lang.Double.doubleToLongBits(r.getDouble(2))).toMap

  test("single exact decision == the three-stage decision it replaced " +
       "(sf0.001 + J = 0.5 ± 1 gram family; maxDf 100 and uncapped)") {
    val spark = TestSpark.spark
    val (family, familyPairs) = thresholdFamily()
    val fixtures = Seq(
      "sf0.001" -> Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "family" -> family)
    for ((name, docs) <- fixtures; maxDf <- Seq(100, 1000000)) {
      spark.catalog.clearCache()
      val (bands, _, margin) = TextDedup.charFunnelParams(threshold, 0L)
      val hashed = TextDedup.charHashedShingles(
        TextDedup.charShingleHashes(docs, n)).persist()
      val sigs = TextDedup.minhashSigs(hashed, TextDedup.charNumHashes,
        TextDedup.lshPrime).persist()
      try {
        val pre = TextDedup
          .charFusedCandidates(hashed, sigs, maxDf, bands, threshold, margin)
          .persist()
        val old = jaccards(threeStageDecision(docs, pre, hashed))
        val now = jaccards(TextDedup.nearDupJaccardChars(docs, n, threshold, maxDf))
        val at = s"$name, maxDf $maxDf"
        assert(old.nonEmpty, s"degenerate: no pair ($at)")
        assert(old.keySet.subsetOf(now.keySet),
          s"pairs lost by the single decision ($at): ${old.keySet -- now.keySet}")
        assert(now === old, s"outputs differ ($at): " +
          s"only-new ${now.keySet -- old.keySet}, jaccard bits differ on " +
          s"${old.keySet.filter(k => now.get(k) != old.get(k)).take(5)}")
        if (name == "family") assert(now.keySet === familyPairs, at)
      } finally { spark.catalog.clearCache() }
    }
  }
}
