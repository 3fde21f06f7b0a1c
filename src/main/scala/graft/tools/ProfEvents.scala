package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage attribution for the events curation front door (optimization
  * round 15): times each prefix of the chain — parse/render, normalize,
  * exact-dedup window, shingles, posting expansion, pair aggregate,
  * verdict join — so the heavy stage is measured, not guessed.
  * Usage: runMain graft.tools.ProfEvents [sfDir]
  */
object ProfEvents {
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
      println(f"  $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def rendered() = {
      val ev = graft.Tables.parquet(spark, s"$sfDir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"))
      val flat = graft.ops.Flatten.flattenJsonColumn(ev, "props",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
      flat.select(col("event_id").as("doc_id"),
        concat_ws(" ",
          when(col("event_id") % 10 === 0, lit("Café"))
            .otherwise(lit("Café")),
          lit("user"), coalesce(col("user_id").cast("string"), lit("null")),
          lit("k"), coalesce(col("props_k").cast("string"), lit("null")),
          coalesce(col("event_type"), lit("null")), lit("b"),
          coalesce(expr("CAST(round(value*100) AS BIGINT) div 10000")
            .cast("string"), lit("null"))).as("text"))
    }

    for (pass <- 1 to 2) {
      println(s"== pass $pass ==")
      spark.catalog.clearCache()
      time("render only")(noop(rendered()))
      val norm = graft.ops.Text.textNormalize(rendered(), form = "NFC")
      time("+ NFC normalize + sha2")(noop(norm))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash"))
      val exact = norm.withColumn("exact_canon",
        min(col("doc_id")).over(w))
      time("+ exact window")(noop(exact))
      val survivors = exact.filter(col("doc_id") === col("exact_canon"))
        .select(col("doc_id"), col("text"))
      val sh = graft.ops.TextDedup.shingles(survivors, 3).persist()
      time("+ shingles (persist)")(noop(sh))
      val inter = graft.ops.TextDedup.pairIntersections(sh, 1024).persist()
      time("+ posting expansion+agg")(noop(inter))
      val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val pairs = inter
        .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
        .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
        .withColumn("jaccard",
          col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      time("+ count joins + filter")(noop(pairs))
      spark.catalog.clearCache()
      time("whole registered query") {
        noop(graft.SparkEntry.queries("curation_pipeline_events")(spark, sfDir))
      }
    }
    spark.stop()
  }
}
