package graft.tools

import org.apache.spark.sql.SparkSession

import graft.ops.TextDedup

/** Dev profiler for the char near-dedup funnel (`near_dedup_chars`) —
  * the heaviest bench query. Times each stage the op runs independently
  * so a regression (or an optimization) can be attributed to shingle
  * hashing, fused candidate generation (LSH + rare index + in-bucket
  * signature prefilter), or the exact decision. Calls the op's OWN
  * stage builders (TextDedup.charFusedCandidates/decideJaccard), so
  * tuning the op can never leave this tool measuring a different
  * pipeline. Not part of the driver contract.
  * Usage: runMain graft.tools.ProfChars [sfDir]
  */
object ProfChars {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // separate knob for the skew-luck experiment: giant template
    // buckets explode C(n,2) pairs in whichever post-agg partition
    // they hash into; finer partitioning smooths the tail
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"${(System.nanoTime() - t0) / 1e9}%8.2f  $name%-32s rows=$n")
    }

    val docs = graft.Tables.documents(spark, sfDir)
    time("docs.count warm")(docs.count())

    val n = 5
    val threshold = 0.5
    val maxDf = 100
    val hashes = TextDedup.charShingleHashes(docs, n).persist()
    time("hashed shingles persist")(hashes.count())
    val hashed = TextDedup.charHashedShingles(hashes)
    val sigs = TextDedup
      .minhashSigs(hashed, TextDedup.charNumHashes, TextDedup.lshPrime)
      .persist()
    time("minhash sigs persist")(sigs.count())
    time("rare-shingle pairs")(TextDedup.pairIntersections(
      hashed.withColumnRenamed("x", "shingle"), maxDf).count())
    val pre = TextDedup.charFusedCandidates(hashed, sigs, maxDf,
      threshold = threshold).persist()
    time("fused cand+sig-prefilter")(pre.count())
    time("exact decision")(
      TextDedup.decideJaccard(pre, hashes, threshold).count())

    hashes.unpersist(); sigs.unpersist(); pre.unpersist()

    time("FULL near_dedup_chars")(
      TextDedup.nearDupJaccardChars(docs).count())
    time("FULL again")(
      TextDedup.nearDupJaccardChars(docs).count())

    spark.stop()
  }
}
