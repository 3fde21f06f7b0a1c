package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Bench
import graft.streaming.Streaming

/** One execution record per query, from Spark's own listeners: the wall
  * time and Spark jobs of the build (construction) and of the timed
  * noop-write action, the planning phase times, and per-job and
  * per-stage task time, shuffle and spill. A stage's RDD scope names
  * (`WholeStageCodegen (3)`, `Exchange`, ...) tie it to the nodes of
  * the plan written next to the record, so a query's wall time splits
  * into construction, planning and execution per stage without timing
  * hand-picked sub-plans.
  *
  * Each query runs [[Passes]] passes, the first cold; a failure prints
  * the exception and moves on to the next query. The formatted plan
  * goes to `target/trace/<query>.plan.txt`, a streaming query's last
  * micro-batch plan to `target/trace/<query>.microbatch.txt`.
  *
  * Usage: runMain graft.tools.Trace <query>[,<query>...] [sfDir]
  */
object Trace {
  val Passes = 3

  final class Stage(val id: Int, val job: Int, val scopes: Seq[String]) {
    var tasks = 0; var runMs, cpuNs, shuffleRead, shuffleWrite, spill, peakMem = 0L
    def add(m: TaskMetrics): Unit = {
      tasks += 1; runMs += m.executorRunTime; cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  /** `site` is the call site of the action that started the job: its SQL
    * execution's description (AQE submits stage jobs from its own
    * thread pool, whose first stage is named after a `CompletableFuture`
    * frame), else its first stage's name. */
  final class Job(val id: Int, val site: String, val startMs: Long) {
    var endMs: Long = startMs
  }

  /** Everything Spark reported for the jobs one stretch of code
    * started. Listener callbacks run on the bus's single thread; read a
    * record only after a drain ([[settled]], or [[record]]'s return). */
  final class Rec(sc: org.apache.spark.SparkContext) {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    val phaseMs = mutable.LinkedHashMap("analysis" -> 0L,
      "optimization" -> 0L, "planning" -> 0L)
    def sites: Seq[String] = jobs.map(_.site).toSeq
    def settled(): Int = { GraftListenerBus.drain(sc); jobs.size }
  }

  private val Marker = "graft.trace"

  /** `body`'s result and the record of every Spark job it started, on
    * this thread or on threads it spawned: AQE stage jobs and streaming
    * micro-batches inherit the marker property even where a stream sets
    * its own job group. */
  def record[T](spark: SparkSession)(body: Rec => T): (T, Rec) = {
    val sc = spark.sparkContext
    val group = s"trace-${java.util.UUID.randomUUID()}"
    val rec = new Rec(sc)
    val descriptions = mutable.HashMap.empty[String, String]
    val owner = mutable.HashMap.empty[Int, Int]
    def ours(p: java.util.Properties) = p != null && p.getProperty(Marker) == group
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          descriptions(s.executionId.toString) = s.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = if (ours(e.properties)) {
        rec.jobs += new Job(e.jobId,
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(descriptions.get)
            .getOrElse(e.stageInfos.headOption.fold("?")(_.name)),
          e.time)
        e.stageIds.foreach(owner.getOrElseUpdate(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        rec.jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) rec.stages.getOrElseUpdate(e.stageInfo.stageId,
          new Stage(e.stageInfo.stageId, owner.getOrElse(e.stageInfo.stageId, -1),
            GraftListenerBus.scopes(e.stageInfo)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) rec.stages.get(e.stageId).foreach(_.add(e.taskMetrics))
    }
    val planning = new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit = qe.tracker.phases.foreach {
        case (phase, p) => rec.phaseMs(phase) = rec.phaseMs.getOrElse(phase, 0L) + p.durationMs
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(planning)
    sc.setJobGroup(group, null) // a description would replace the call sites
    sc.setLocalProperty(Marker, group)
    try {
      val out = body(rec)
      rec.settled()
      (out, rec)
    } finally {
      sc.setLocalProperty(Marker, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(planning)
    }
  }

  /** One pass of one query: its timing, its record, how many of the
    * record's jobs the build started, and the plans it left. */
  final case class Pass(query: String, pass: Int, timed: Bench.Timed, rec: Rec,
                        buildJobs: Int, plan: String, microBatchPlan: String) {
    def error: Option[Throwable] = timed.error
  }

  /** [[Passes]] passes of each query, in order; a failing query stops at
    * its failed pass and the next query is traced. */
  def traceAll(spark: SparkSession, queries: Seq[(String, () => DataFrame)]): Seq[Pass] =
    queries.flatMap { case (name, build) =>
      val passes = mutable.ArrayBuffer.empty[Pass]
      while (passes.size < Passes && passes.forall(_.error.isEmpty)) {
        spark.catalog.clearCache()
        var buildJobs = Int.MaxValue
        var plan = ""
        val ((timed, rec), microBatchPlan) = Streaming.capturePlan(record(spark) { rec =>
          Bench.noopPass(spark, build(), between = () => buildJobs = rec.settled(),
            after = df => plan = df.queryExecution.explainString(FormattedMode))
        })
        passes += Pass(name, passes.size + 1, timed, rec,
          math.min(buildJobs, rec.jobs.size), plan, microBatchPlan)
      }
      passes
    }

  private def sec(ms: Long): String = f"${ms / 1e3}%.3f s"
  private def mb(bytes: Long): String = f"${bytes / 1e6}%.2f MB"

  /** The printed record of one pass. */
  def render(p: Pass, cores: Int): Seq[String] = {
    val r = p.rec
    val st = r.stages.values.toSeq
    val runMs = st.map(_.runMs).sum
    val wall = p.timed.seconds
    val head = s"[trace] ${p.query} pass ${p.pass}/$Passes" + p.error.fold("")(e =>
      s" FAILED ${e.getClass.getName}: ${e.getMessage}")
    val jobLines = r.jobs.zipWithIndex.map { case (j, i) =>
      val own = st.filter(_.job == j.id)
      s"  job ${j.id} [${if (i < p.buildJobs) "construction" else "action"}] ${j.site}: " +
        s"${sec(j.endMs - j.startMs)}, ${own.size} stages, task ${sec(own.map(_.runMs).sum)}"
    }
    val stageLines = st.map { x =>
      s"  stage ${x.id} (job ${x.job}): task ${sec(x.runMs)}, ${x.tasks} tasks, " +
        s"shuffle read ${mb(x.shuffleRead)} write ${mb(x.shuffleWrite)}: " +
        x.scopes.mkString(", ")
    }
    Seq(head,
      f"  construction ${p.timed.buildS}%.3f s, ${p.buildJobs} jobs | " +
        f"action ${p.timed.actionS}%.3f s, ${r.jobs.size - p.buildJobs} jobs",
      "  planning: " + r.phaseMs.map { case (k, v) => s"$k ${sec(v)}" }.mkString(", "),
      s"  totals: ${r.jobs.size} jobs, ${st.size} stages, ${st.map(_.tasks).sum} tasks; " +
        s"task run ${sec(runMs)}, cpu ${sec(st.map(_.cpuNs).sum / 1000000)}; " +
        f"util ${if (wall > 0) runMs / 1e3 / (wall * cores) else 0.0}%.2f of $cores cores; " +
        s"shuffle read ${mb(st.map(_.shuffleRead).sum)}, write ${mb(st.map(_.shuffleWrite).sum)}; " +
        s"spill ${mb(st.map(_.spill).sum)}; peak exec mem ${mb(st.map(_.peakMem).foldLeft(0L)(math.max))}"
    ) ++ jobLines ++ stageLines
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: Trace <query>[,<query>...] [sfDir]")).split(",").map(_.trim).toSeq
    val sfDir = args.lift(1).getOrElse(Scaling.SfDirs(1))
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(
      Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = Bench.localSession(cores, "ERROR")
    val dir = Paths.get("target/trace")
    Files.createDirectories(dir)
    for (name <- names) {
      val passes = traceAll(spark,
        Seq(name -> (() => graft.SparkEntry.queries(name)(spark, sfDir))))
      passes.foreach(p => render(p, cores).foreach(println))
      passes.reverse.find(_.plan.nonEmpty).foreach { p =>
        Files.writeString(dir.resolve(s"$name.plan.txt"), p.plan)
        println(s"[trace] $name plan: ${Plans.tokens(p.plan)} ($dir/$name.plan.txt)")
      }
      passes.reverse.find(_.microBatchPlan.nonEmpty).foreach { p =>
        Files.writeString(dir.resolve(s"$name.microbatch.txt"), p.microBatchPlan)
        println(s"[trace] $name micro-batch plan: $dir/$name.microbatch.txt")
      }
    }
    spark.stop()
  }
}
