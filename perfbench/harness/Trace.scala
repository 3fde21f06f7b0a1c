package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level sums for one stage; folded into its job's layer when the
  * unit closes. */
final class StageStats {
  var tasks = 0; var failedTasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var peakExecMem = 0L; var bytesWritten = 0L
  var submittedMs = -1L; var firstLaunchMs = -1L; var completed = false

  def add(o: StageStats): Unit = {
    tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; deserMs += o.deserMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; bytesWritten += o.bytesWritten
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
  def queueMs: Long =
    if (submittedMs >= 0 && firstLaunchMs >= submittedMs) firstLaunchMs - submittedMs
    else 0L
}

final class LayerSum {
  var jobs = 0; var stages = 0; var queueMs = 0L
  val sum = new StageStats
}

final class JobRec(val id: Int, val group: String, val callSite: String,
                   val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = -1L
  var layer: String = ""
}

/** Everything Spark reported while one unit ran. */
final class UnitTrace(val seq: Int) {
  val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageStats]
  var planExecutions = 0
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var batches = 0
  var triggerMs = 0L; var streamPlanMs = 0L; var commitMs = 0L
  var stateRows = 0L; var stateMem = 0L
  var cachePeak = 0L
}

/** Outside-in trace: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, keyed by the job group the harness sets for
  * each layer call. Events that carry no harness job group (streaming
  * micro-batches run under their own group) fall to the layer whose
  * wall-clock span holds the job's start. The bus is drained after
  * every unit, so events never leak into the next unit's record.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  @volatile private var current: UnitTrace = null
  private val jobsById = mutable.HashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, UnitTrace]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private val executionSite = mutable.HashMap.empty[Long, String]
  private var cachedBytes = 0L

  def groupId(seq: Int, layer: String): String = s"perfbench:$seq:$layer"

  def begin(seq: Int): UnitTrace = {
    val u = new UnitTrace(seq)
    lock.synchronized { u.cachePeak = cachedBytes }
    current = u
    u
  }

  /** Waits for the bus to deliver the unit's events, then attributes
    * every job (and its stages) to a layer. */
  def end(u: UnitTrace): Unit = {
    ListenerBusDrain.drain(sc)
    current = null
    lock.synchronized {
      u.jobs.foreach { j =>
        val prefix = s"perfbench:${u.seq}:"
        j.layer =
          if (j.group != null && j.group.startsWith(prefix)) j.group.stripPrefix(prefix)
          else u.spans.find { case (_, s, e) => j.startMs >= s && j.startMs <= e }
            .orElse(u.spans.lastOption).map(_._1).getOrElse("other")
        jobsById.remove(j.id)
      }
      u.stages.keys.foreach(stageOwner.remove)
    }
  }

  /** Per-layer sums of the unit's jobs and stages. A stage counts
    * under the first job that listed it; skipped stages never complete
    * and are not counted. */
  def layerStats(u: UnitTrace): Map[String, LayerSum] = {
    val stageLayer = mutable.HashMap.empty[Int, String]
    u.jobs.foreach(j => j.stageIds.foreach(s => stageLayer.getOrElseUpdate(s, j.layer)))
    val out = mutable.LinkedHashMap.empty[String, LayerSum]
    u.jobs.foreach(j => out.getOrElseUpdate(j.layer, new LayerSum).jobs += 1)
    u.stages.foreach { case (id, st) =>
      val l = out.getOrElseUpdate(stageLayer.getOrElse(id, "other"), new LayerSum)
      if (st.completed) { l.stages += 1; l.queueMs += st.queueMs }
      l.sum.add(st)
    }
    out.toMap
  }

  private def unitFor(stageId: Int): UnitTrace = stageOwner.getOrElse(stageId, null)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val u = current
      if (u == null) return
      val props = Option(e.properties)
      val j = new JobRec(e.jobId,
        props.map(_.getProperty("spark.jobGroup.id")).orNull,
        // an SQL execution's jobs (adaptive query stages included) carry
        // its id; its description is the action's call site. Other jobs
        // fall back to their result stage's name.
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => lock.synchronized(executionSite.get(id.toLong)))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name),
        e.time, e.stageIds)
      lock.synchronized {
        u.jobs += j
        jobsById(e.jobId) = j
        e.stageIds.foreach { s => stageOwner(s) = u; u.stages.getOrElseUpdate(s, new StageStats) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobsById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val u = unitFor(e.stageInfo.stageId)
      if (u != null) u.stages.get(e.stageInfo.stageId).foreach(
        _.submittedMs = e.stageInfo.submissionTime.getOrElse(-1L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val u = unitFor(e.stageInfo.stageId)
      if (u != null) u.stages.get(e.stageInfo.stageId).foreach(_.completed = true)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = lock.synchronized {
      val u = unitFor(e.stageId)
      if (u != null) u.stages.get(e.stageId).foreach { st =>
        val t = e.taskInfo.launchTime
        if (st.firstLaunchMs < 0 || t < st.firstLaunchMs) st.firstLaunchMs = t
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val u = unitFor(e.stageId)
      if (u != null) u.stages.get(e.stageId).foreach { st =>
        st.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) st.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.deserMs += m.executorDeserializeTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
          st.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        lock.synchronized { executionSite(x.executionId) = x.description }
      case x: SparkListenerSQLExecutionEnd =>
        lock.synchronized { executionSite.remove(x.executionId) }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (!b.blockId.isRDD) return
      lock.synchronized {
        val now = b.memSize + b.diskSize
        cachedBytes += now - blockBytes.getOrElse(b.blockId.name, 0L)
        if (now == 0) blockBytes.remove(b.blockId.name) else blockBytes(b.blockId.name) = now
        val u = current
        if (u != null) u.cachePeak = math.max(u.cachePeak, cachedBytes)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val u = current
      if (u == null) return
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      lock.synchronized {
        u.planExecutions += 1
        u.analysisMs += ms("analysis")
        u.optimizationMs += ms("optimization")
        u.planningMs += ms("planning")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val u = current
      if (u == null) return
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      lock.synchronized {
        u.batches += 1
        u.triggerMs += ms("triggerExecution")
        u.streamPlanMs += ms("queryPlanning")
        u.commitMs += ms("walCommit") + ms("commitOffsets")
        u.stateRows = math.max(u.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        u.stateMem = math.max(u.stateMem, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    attached = true
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = if (attached) {
    attached = false
    ListenerBusDrain.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}
