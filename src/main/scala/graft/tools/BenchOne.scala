package graft.tools

import org.apache.spark.sql.SparkSession

/** Times a single registered query in isolation (3 passes, cache cleared
  * between passes) — the first step of the bench triage loop: a query
  * slow in the full [[graft.Bench]] run but fast here points at JVM-wide
  * state (code cache, GC) rather than the query's plan.
  * Usage: runMain graft.tools.BenchOne <queryName> [sfDir]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // noop-sink materialization, mirroring graft.Bench's timed action
    // (count() lets the optimizer eliminate enrichment joins and
    // unreferenced projections — see the Bench.scala note)
    for (i <- 1 to 3) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"pass$i ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    spark.stop()
  }
}
