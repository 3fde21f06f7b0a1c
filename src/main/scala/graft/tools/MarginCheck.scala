package graft.tools

/** Fixture-margin gate for the recall-gated front-door stages (ADVICE
  * r14): the near and sem oracles compute COMPLETE exact pair sets
  * while the engine proposes candidates by LSH banding, so a NATURAL
  * pair sitting marginally above a decision bar could be missed by
  * banding and permanently fail the correctness gate at that
  * fixture/SF — an opaque hash mismatch. This main turns that failure
  * mode into a NAMED staging failure by asserting, per front-door
  * staging variant, that no pair lies in a brittle band:
  *
  *  - near bar (Jaccard ≥ 0.5; 64×32 banding miss ≈ 1e-4 per pair AT
  *    the bar): every pair the oracle will emit must clear 0.55 —
  *    at J ≥ 0.55 the per-pair miss is ≤ 2e-6 and the planted twins
  *    sit ≥ 0.8 (miss ≈ 6e-15);
  *  - sem bar (cosine ≥ 0.9; planted pairs are identical vectors at
  *    exactly 1.0, where sign-banding recall is STRUCTURAL): no pair
  *    may sit in [0.85, 0.999) — the natural corpus tops out ≈ 0.48,
  *    so anything in the band means the fixtures changed.
  *
  * The pair sets are computed with the engine's EXACT machinery
  * ([[graft.ops.TextDedup.allPairsJaccard]] — the Bayardo
  * prefix-filter with no recall heuristic; [[graft.ops.Similarity
  * .cosineNearDupExact]] — the documented tool-only brute force), so
  * the check cannot itself suffer a recall miss.
  *
  * Usage: `runMain graft.tools.MarginCheck [sfDir]` (roundclose runs
  * it at every SF before the matrix). Exits nonzero on violation.
  */
object MarginCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(
      Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = graft.Bench.localSession(cores, "ERROR")

    for ((name, kept) <-
        graft.queries.WebQueries.webMarginProbes(spark, sfDir)) {
      // complete pair set at J >= 1/2 — exactly what the oracle emits
      val pairs = graft.ops.TextDedup.allPairsJaccard(kept, k = 3,
          num = 1, den = 2)
        .select("doc_a", "doc_b", "jaccard").collect()
      val bad = pairs.filter(_.getDouble(2) < 0.55)
      require(bad.isEmpty,
        s"$name@$sfDir: ${bad.length} near-pair(s) inside the brittle " +
          s"[0.5, 0.55) band: " + bad.take(5).mkString(", "))
      val minJ = if (pairs.isEmpty) Double.NaN
                 else pairs.map(_.getDouble(2)).min
      println(f"[margin] $name%-12s $sfDir: ${pairs.length}%5d oracle " +
        f"near-pairs, min J = $minJ%.4f (bar 0.5, required 0.55)")
      spark.catalog.clearCache()
    }

    for ((name, vecs) <-
        graft.queries.WebQueries.semMarginVectorProbes(spark, sfDir)) {
      val cos = graft.ops.Similarity.cosineNearDupExact(vecs, 0.85)
        .select("vec_a", "vec_b", "cos").collect()
      val badSem = cos.filter(_.getDouble(2) < 0.999)
      require(badSem.isEmpty,
        s"$name@$sfDir: ${badSem.length} cosine pair(s) inside the " +
          s"brittle [0.85, 0.999) band: " + badSem.take(5).mkString(", "))
      println(f"[margin] $name%-8s/cos $sfDir: ${cos.length}%5d pairs at " +
        "cos >= 0.85, all >= 0.999 (planted identical-vector class only)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
