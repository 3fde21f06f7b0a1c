package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B profiler for the near-dedup pair stage (optimization round 15):
  * times [[graft.ops.TextDedup.jaccardPairsOn]]'s posting-expansion
  * shape against [[graft.ops.TextDedup.jaccardPairsPrefix]] on both
  * the documents corpus and the events front-door corpus, and asserts
  * the two emit IDENTICAL row sets (the optimization contract).
  * Usage: runMain graft.tools.ProfPairs [sfDir]
  */
object ProfPairs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // events front-door corpus: exact-dedup survivors of the rendered
    // event docs (the shape curationVerdicts feeds the near stage)
    def eventsSurvivors() = {
      val ev = graft.Tables.parquet(spark, s"$sfDir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"))
      val flat = graft.ops.Flatten.flattenJsonColumn(ev, "props",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
      val docs = flat.select(col("event_id").as("doc_id"),
        concat_ws(" ",
          when(col("event_id") % 10 === 0, lit("Café"))
            .otherwise(lit("Café")),
          lit("user"), coalesce(col("user_id").cast("string"), lit("null")),
          lit("k"), coalesce(col("props_k").cast("string"), lit("null")),
          coalesce(col("event_type"), lit("null")), lit("b"),
          coalesce(expr("CAST(round(value*100) AS BIGINT) div 10000")
            .cast("string"), lit("null"))).as("text"))
      val norm = graft.ops.Text.textNormalize(docs, form = "NFC")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash"))
      norm.withColumn("exact_canon", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("exact_canon"))
        .select(col("doc_id"), col("text"))
    }

    def docsCorpus() = graft.Tables.parquet(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    for ((label, mk, cap) <- Seq(
      ("events(cap=1024)", () => eventsSurvivors(), 1024),
      ("documents(cap=1000)", () => docsCorpus(), 1000))) {
      println(s"== $label ==")
      for (pass <- 1 to 2) {
        spark.catalog.clearCache()
        val shA = graft.ops.TextDedup.shingles(mk(), 3).persist()
        val a = time(s"pass$pass posting-expansion") {
          val df = graft.ops.TextDedup.jaccardPairsPosting(shA, 0.5, cap)
          df.write.format("noop").mode("overwrite").save(); df
        }
        spark.catalog.clearCache()
        val shB = graft.ops.TextDedup.shingles(mk(), 3).persist()
        val b = time(s"pass$pass prefix-filter") {
          val df = graft.ops.TextDedup.jaccardPairsPrefix(shB, 0.5, cap)
          df.write.format("noop").mode("overwrite").save(); df
        }
        if (pass == 2) {
          val onlyA = a.exceptAll(b).count()
          val onlyB = b.exceptAll(a).count()
          println(s"  equality: onlyA=$onlyA onlyB=$onlyB " +
            s"(nA=${a.count()}, nB=${b.count()})")
          require(onlyA == 0 && onlyB == 0, "OUTPUT MISMATCH")
        }
      }
    }
    spark.stop()
  }
}
