package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.ops.{Meta, Quality}
import graft.runner.Pipeline
import graft.sources.{Paginated, Sinks}
import graft.streaming.Streaming

/** One closed-loop client in one driver JVM. Runs a workload's units in
  * passes until the measuring window closes, timing every call it makes
  * into the program's layers, and writes a JSON record for run.py.
  *
  * Arguments are key=value pairs; see run.py for the full set. With
  * both `pages` and `units` it runs the daily loads and then the named
  * queries, which is how the build's class-archive training run covers
  * every workload in one JVM.
  */
object Harness {

  /** Shared state of one run, handed to every unit. */
  final class Ctx(val spark: SparkSession, val data: String, val work: String,
                  val trace: Option[Trace]) {
    var seq = 0
    var unit: UnitTrace = null
    var tracing = false
    val layerWall = mutable.LinkedHashMap.empty[String, Double]

    /** Times one call into a program layer. When tracing, the call's
      * Spark jobs carry a job group naming the unit and the layer. */
    def layer[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      // no description: an SQL execution takes the job description, when
      // set, in place of its call site, which the trace reads
      if (tracing) sc.setJobGroup(trace.get.groupId(seq, name), null)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        layerWall(name) = layerWall.getOrElse(name, 0.0) + dt
        if (tracing) {
          unit.spans += ((name, ms0, System.currentTimeMillis()))
          sc.clearJobGroup()
        }
      }
    }

    def out(pass: Int, name: String): String = s"$work/out/p$pass/$name"
    def scratch(name: String): String = s"$work/scratch/$name"
  }

  /** One unit of work: a registry query, a streaming query, or one
    * daily load. `run` returns extra facts for the record. */
  trait Work {
    def name: String
    def run(c: Ctx, pass: Int): Map[String, Any]
  }

  /** A registry query, with the output written as parquet so run.py can
    * check it against the query's oracle. `build` is the registry entry,
    * or for a streaming entry the streaming-layer call it makes: those
    * entries write their stream fixtures under a fixed absolute path, so
    * the harness makes the same call with a scratch path inside the work
    * directory. */
  final class Query(val name: String, build: Ctx => DataFrame) extends Work {
    def run(c: Ctx, pass: Int): Map[String, Any] = {
      val df = c.layer("build")(build(c))
      c.layer("action")(df.write.mode("overwrite").parquet(c.out(pass, name)))
      Map.empty
    }
  }

  private def eventsBase(c: Ctx): DataFrame =
    Tables.events(c.spark, c.data).select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  /** The registry entries' streaming calls, by registry name. */
  val streams: Map[String, Ctx => DataFrame] = Map(
    "streaming_sessionize" -> (c => Streaming.statefulSessionize(c.spark,
      eventsBase(c), gapSeconds = 1800L, c.scratch("stream_events5"))))

  /** The reference job: L daily loads, each fetch → metadata → DQ-gated
    * merge with audit → staging overwrite into the next target. The
    * target alternates between two paths and carries over between loads
    * of one pass; every pass starts from an empty target. */
  final class DailyLoads(pagesRoot: String, loads: Int) {
    private val contract = Quality.DqContract(
      requiredCols = Seq("event_id", "user_id", "event_type"),
      keys = Seq("user_id", "event_type"))
    private var target: DataFrame = null

    def beginPass(c: Ctx): Unit = {
      val schema = Paginated.recordSchema
        .add("load_timestamp", TimestampType).add("source_file", StringType)
      target = c.spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }

    def units: Seq[Work] = (0 until loads).map { i =>
      new Work {
        val name = s"load_$i"
        def run(c: Ctx, pass: Int): Map[String, Any] = {
          val pages = s"$pagesRoot/load_$i"
          val clock = f"2026-01-${i + 1}%02d 06:00:00"
          val passDir = s"${c.work}/etl/p$pass"
          val raw = c.layer("fetch")(Paginated.fetchAll(c.spark, pages))
          val src = c.layer("meta")(
            Meta.addMetadata(raw, clock = to_timestamp(lit(clock))))
          val res = c.layer("run")(Pipeline.run(c.spark, src, target, contract,
            ts = col("load_timestamp"), tiebreak = Seq(col("event_id")),
            tableName = "daily_events", auditPath = s"$passDir/audit",
            clock = clock, sourceFiles = Seq(pages)))
          target = c.layer("sink")(
            Sinks.stagingOverwrite(res.merged, s"$passDir/t${(i + 1) % 2}"))
          Map("status" -> res.status, "pages" -> raw.inputFiles.length)
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val spawnUs = a("spawn_us").toLong
    val cores = a("cores").toInt
    val work = a("work")
    val seconds = a("seconds").toDouble
    val minWarm = a("min_warm").toInt
    val traceOn = a("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traceOn) Some(new Trace(spark)) else None
    trace.foreach(_.attach())
    val c = new Ctx(spark, a("data"), work, trace)

    val etl = a.get("pages").map(p => new DailyLoads(p, a("loads").toInt))
    val names = a.get("units").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val units: Seq[Work] = etl.toSeq.flatMap(_.units) ++
      new scala.util.Random(a("seed").toLong).shuffle(names)
        .map(n => new Query(n, streams.getOrElse(n,
          (c: Ctx) => SparkEntry.queries(n)(c.spark, c.data))))

    val jit = ManagementFactory.getCompilationMXBean
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.isCollectionUsageThresholdSupported &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    // Old-gen occupancy after a full collection. A collection lets the
    // context cleaner drop the broadcasts and shuffles of the queries it
    // freed, which only a later collection reclaims, so collect until
    // two readings agree.
    def heapAfterGcMb(): Double = {
      def collect(): Double = {
        System.gc()
        oldGen.map(_.getCollectionUsage.getUsed).sum / 1048576.0
      }
      var last = collect()
      var next = last
      var n = 1
      while (n < 3 || (next < last - 0.5 && n < 8)) {
        Thread.sleep(200)
        last = next
        next = collect()
        n += 1
      }
      next
    }
    def nowUs: Long = {
      val i = java.time.Instant.now()
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }

    val setupS = (nowUs - spawnUs) / 1e6
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val window0 = System.nanoTime()
    var jitColdMs = 0L
    var heapMb = 0.0
    var pass = 0
    def elapsed = (System.nanoTime() - window0) / 1e9
    // pass 0 is the cold pass; warm passes run until the window closes,
    // at least minWarm of them, and none past 120 s after the first. A
    // traced run alternates traced and untraced warm passes so the
    // tracing overhead is measured in-JVM.
    while (pass <= 1 || (elapsed < 120 && (pass <= minWarm || elapsed < seconds))) {
      val traced = traceOn && (pass == 0 || pass % 2 == 1)
      trace.foreach(t => if (traced) t.attach() else t.detach())
      c.tracing = traced
      etl.foreach(_.beginPass(c))
      val records = units.map { w =>
        c.seq += 1
        c.layerWall.clear()
        if (traced) c.unit = trace.get.begin(c.seq)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (extra, error) =
          try (w.run(c, pass), null)
          catch { case e: Throwable => (Map.empty[String, Any], e) }
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        spark.catalog.clearCache()
        val rec = mutable.LinkedHashMap[String, Any](
          "name" -> w.name, "wall_s" -> wall, "start_ms" -> startMs,
          "end_ms" -> endMs, "layers" -> c.layerWall.toMap)
        if (error != null) {
          rec("error") = error.getClass.getName + ": " +
            String.valueOf(error.getMessage).take(2000)
        }
        rec ++= extra
        if (traced) {
          val u = c.unit
          trace.get.end(u)
          rec("trace") = traceRecord(trace.get, u)
        }
        rec.toMap
      }
      if (pass == 0) jitColdMs = jit.getTotalCompilationTime
      passes += Map("pass" -> pass, "traced" -> traced, "units" -> records)
      // The live heap grows by about a megabyte a unit, so it is read
      // once, after the last pass every run makes, whether or not the
      // window allows more.
      if (pass == minWarm) heapMb = heapAfterGcMb()
      pass += 1
    }
    trace.foreach(_.detach())
    // the 120 s cap ended the run before that pass
    if (pass <= minWarm) heapMb = heapAfterGcMb()

    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / 1048576.0
    val oracles = SparkEntry.oracleSql
    val result = Map(
      "setup_s" -> setupS, "cores" -> cores, "passes" -> passes.toSeq,
      "heap_after_gc_mb" -> heapMb,
      "jvm" -> Map("jit_cold_ms" -> jitColdMs, "code_cache_mb" -> codeCacheMb),
      "oracle" -> units.flatMap(w => oracles.get(w.name).map(w.name -> _)).toMap)
    Files.writeString(Paths.get(a("result")), Json(result))
    spark.stop()
  }

  private def traceRecord(t: Trace, u: UnitTrace): Map[String, Any] = Map(
    "layers" -> t.layerStats(u).map { case (l, s) =>
      l -> Map("jobs" -> s.jobs, "stages" -> s.stages, "queue_ms" -> s.queueMs,
        "tasks" -> s.sum.tasks, "failed_tasks" -> s.sum.failedTasks,
        "run_ms" -> s.sum.runMs, "cpu_ns" -> s.sum.cpuNs, "gc_ms" -> s.sum.gcMs,
        "deser_ms" -> s.sum.deserMs, "shuffle_write" -> s.sum.shuffleWrite,
        "shuffle_read" -> s.sum.shuffleRead, "spill" -> s.sum.spill,
        "peak_exec_mem" -> s.sum.peakExecMem, "bytes_written" -> s.sum.bytesWritten)
    },
    "jobs" -> u.jobs.map(j => Seq(j.layer, j.callSite, j.startMs, j.endMs)).toSeq,
    "plan" -> Map("n" -> u.planExecutions, "analysis_ms" -> u.analysisMs,
      "optimization_ms" -> u.optimizationMs, "planning_ms" -> u.planningMs),
    "stream" -> Map("batches" -> u.batches, "trigger_ms" -> u.triggerMs,
      "plan_ms" -> u.streamPlanMs, "commit_ms" -> u.commitMs,
      "state_rows" -> u.stateRows, "state_mem" -> u.stateMem),
    "cache_peak" -> u.cachePeak)
}

/** Minimal JSON rendering for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
