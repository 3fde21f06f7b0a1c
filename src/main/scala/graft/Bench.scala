package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
object Bench {
  /** Build and action wall seconds of one [[noopPass]], and its failure
    * (a failed step's time runs up to the throw). */
  final case class Timed(buildS: Double, actionS: Double,
                         error: Option[Throwable]) {
    def seconds: Double = buildS + actionS
  }

  /** The timed action of every measuring main ([[Bench]],
    * [[tools.Scaling]], [[tools.Trace]]): build the query, then
    * materialize it into the no-op sink, NOT count(). Spark 4's
    * optimizer eliminates an unreferenced left join whose right keys are
    * distinct (and prunes unreferenced projections to the scan), so
    * `.count()` silently SKIPS the load-bearing work of
    * enrichment-shaped ops — measured at sf0.1 (round 15):
    * web_pipeline_near counts in 0.6 s but takes 4.3 s to materialize
    * (the near-verify arms never ran under count), and web_pipeline's
    * cleaning folds prune to a bare scan. The noop write consumes every
    * output row and column, so the timed window covers the operator's
    * actual work while writing nothing.
    *
    * `between` runs untimed after the build and `after` untimed after
    * the action. Then the operator-internal persists (shingle sets,
    * signatures, k-means corpus) are dropped: they are scoped to one
    * query, so queries time independently instead of competing for the
    * storage pool.
    */
  def noopPass(spark: SparkSession, build: => DataFrame,
               between: () => Unit = () => (),
               after: DataFrame => Unit = _ => ()): Timed = {
    var buildS, actionS = 0.0
    def timed[T](body: => T)(set: Double => Unit): T = {
      val t0 = System.nanoTime()
      try body finally set((System.nanoTime() - t0) / 1e9)
    }
    val error =
      try {
        val df = timed(build)(buildS = _)
        between()
        timed(df.write.format("noop").mode("overwrite").save())(actionS = _)
        after(df)
        None
      } catch { case e: Throwable => Some(e) }
    spark.catalog.clearCache()
    Timed(buildS, actionS, error)
  }

  /** The local session every main runs on: `cores` task slots and as
    * many shuffle partitions, UTC, no UI, and the managed-table warehouse
    * pinned inside the repo whatever the working directory.
    */
  def localSession(cores: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The registry, or with `SPARK_GRAFT_ONLY=q1,q2` only the named
    * queries: the local iteration aid of [[Bench]] and [[Verify]].
    */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
      .fold(SparkEntry.queries)(
        names => SparkEntry.queries.filter { case (n, _) => names(n) })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val selected = selectedQueries
    def once(): (Map[String, Double], List[String]) = {
      var failed = List.empty[String]
      val times = selected.map { case (name, fn) =>
        val t = noopPass(spark, fn(spark, sfDir))
        t.error.foreach { e =>
          System.err.println(
            s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          failed ::= name
        }
        name -> t.seconds
      }
      (times, failed.reverse)
    }
    // pass 1 = cold (the headline, methodology-compatible with earlier
    // rounds); passes 2..REPS = warm (JVM/codegen/page-cache amortized).
    // queries_warm reports the per-query MIN over the warm passes:
    // single-run deltas at sf0.1 sit inside ±30% host-load noise, so a
    // per-query minimum is what makes cross-round comparisons
    // code-attributable rather than load-attributable.
    val reps = math.max(2,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val (cold, coldFailed) = once()
    val warmRuns = (2 to reps).map(_ => once())
    val warm: Map[String, Double] =
      warmRuns.map(_._1).reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    val warmFailed = warmRuns.flatMap(_._2).distinct.toList
    def fmt(m: Map[String, Double]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def arr(xs: List[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = cold.values.sum
    // variance auto-flag: compare this run's warm times against the
    // previous target/bench.json (same box, usually same code). A ≥2×
    // move on a ≥0.5 s query is exactly the class of anomaly that cost a
    // round-7 judge cycle (containment_pairs' unexplained 2× spread) —
    // surface it in the output instead of waiting for a human diff.
    // Parsing is a line-local regex over our own single-line format;
    // only runs comparing against the same SF dir.
    val action = "noop_write"
    val prevWarm: Map[String, Double] =
      try {
        val prev = Files.readString(Paths.get("/root/repo/target/bench.json"))
        // a previous file without an "action" field is a pre-r15 count
        // run — cross-action comparison would flag the methodology
        // change itself, so only compare same-action snapshots
        val prevAction =
          "\"action\":\"([a-z_]+)\"".r.findFirstMatchIn(prev)
            .map(_.group(1)).getOrElse("count")
        if (!prev.contains("\"sf\":\"" + sfDir + "\"") ||
            prevAction != action) Map.empty
        else {
          val body = prev.split("\"queries_warm\":\\{", 2)(1).split("\\}", 2)(0)
          "\"([a-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case _: Throwable => Map.empty }
    val flagged = warm.flatMap { case (k, v) =>
      prevWarm.get(k).collect {
        case p if math.max(p, v) >= 0.5 && math.min(p, v) > 0 &&
                  math.max(p, v) / math.min(p, v) >= 2.0 =>
          k -> (v / p)
      }
    }
    if (flagged.nonEmpty)
      System.err.println("[bench] variance flags (warm vs previous run, " +
        "ratio this/prev): " + flagged.map { case (k, r) =>
          f"$k=${r}%.2fx" }.mkString(", "))
    // cold-anomaly flag: a cold time ≥10× the query's OWN warm minimum on
    // a ≥2 s cold query is either first-touch codegen/classload or in-sweep
    // host interference — round 8 had three such spikes (rendezvous_hash
    // 37.6 s cold / 1.1 s warm) that the warm-only comparator never saw.
    // Surfacing the ratio makes each one attributable instead of silent.
    val flaggedCold = cold.flatMap { case (k, c) =>
      warm.get(k).collect {
        case w if c >= 2.0 && w > 0 && c / w >= 10.0 => k -> (c / w)
      }
    }
    if (flaggedCold.nonEmpty)
      System.err.println("[bench] cold-anomaly flags (cold/warm ratio): " +
        flaggedCold.map { case (k, r) => f"$k=${r}%.1fx" }.mkString(", "))
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${fmt(cold)},""" +
      s""""total_warm":${warm.values.sum},"queries_warm":${fmt(warm)},""" +
      s""""warm_passes":${reps - 1},"action":"$action",""" +
      s""""variance_flags":${fmt(flagged)},""" +
      s""""variance_flags_cold":${fmt(flaggedCold)},""" +
      s""""failed":${arr(coldFailed)},"failed_warm":${arr(warmFailed)},"sf":"$sfDir"}"""
    println(json)
    // stdout of a 260-query run has been truncated by capture layers
    // before (round 6 lost 197 of 262 per-query numbers) — the file copy
    // is the durable, machine-readable record the next round diffs
    Files.createDirectories(Paths.get("/root/repo/target"))
    Files.writeString(Paths.get("/root/repo/target/bench.json"), json + "\n")
    spark.stop()
  }
}
