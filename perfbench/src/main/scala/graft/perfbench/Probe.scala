package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's listener APIs saw during one op. Filled on the listener-bus
  * thread, read by the bench thread after the bus has drained.
  */
final class OpStats {
  var jobs, eagerJobs, stages, tasks, queries, aqeUpdates, outsideWscg = 0L
  val jobIntervalsMs = mutable.ArrayBuffer[(Long, Long)]()
  /** Analysis, optimization and planning phases (`QueryExecution.tracker`). */
  val planIntervalsMs = mutable.ArrayBuffer[(Long, Long)]()
  var taskCpuNs, taskRunMs, taskGcMs, peakExecMem = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, inputRows = 0L
  val outputBytesByLayer = mutable.Map[String, Long]().withDefaultValue(0L)
  var analysisMs, optimizationMs, planningMs = 0L
  val stageSkews = mutable.ArrayBuffer[Double]()
  var addBatchMs, triggerMs = 0L

  var opStartMs, opEndMs = 0L

  /** Wall seconds of the op covered by at least one job (overlapping jobs
    * count once; a job still running from an earlier op counts from this
    * op's start). */
  def jobUnionS: Double = Probe.unionS(jobIntervalsMs.toSeq, opStartMs, opEndMs)
}

/** One listener on every public Spark hook the traced run reads:
  * `SparkListener` (jobs, stages, task metrics, AQE re-plans),
  * `QueryExecutionListener` (`QueryExecution.tracker` phases and the
  * executed plan's codegen coverage) and `StreamingQueryListener`
  * (micro-batch durations). Jobs are tagged with the local properties the
  * bench sets around each call: `perfbench.phase` ("build" while a query
  * builder runs, so eager jobs are counted) and `perfbench.layer` (the
  * module span that submitted them, so written bytes land on their layer).
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile private var cur: OpStats = new OpStats
  private val jobStart = mutable.Map[Int, Long]()
  private val stageTasks = mutable.Map[Int, (Long, Long, Long)]() // count, sum, max (ms)

  /** Events arriving between ops go to a throwaway record. */
  def end(): Unit = synchronized { cur = new OpStats }

  def begin(): OpStats = synchronized {
    cur = new OpStats
    cur.opStartMs = System.currentTimeMillis()
    cur
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobStart(e.jobId) = e.time
    cur.jobs += 1
    cur.stages += e.stageIds.size
    if (p.exists(x => x.getProperty("perfbench.phase") == "build")) cur.eagerJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 => cur.jobIntervalsMs += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskCpuNs += m.executorCpuTime
      cur.taskRunMs += m.executorRunTime
      cur.taskGcMs += m.jvmGCTime
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cur.peakExecMem = math.max(cur.peakExecMem, m.peakExecutionMemory)
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.inputRows += m.inputMetrics.recordsRead
      cur.outputBytesByLayer(stageLayer.getOrElse(e.stageId, "")) += m.outputMetrics.bytesWritten
    }
    if (e.taskInfo != null) {
      val d = e.taskInfo.duration
      val (n, s, mx) = stageTasks.getOrElse(e.stageId, (0L, 0L, 0L))
      stageTasks(e.stageId) = (n + 1, s + d, math.max(mx, d))
    }
  }

  private val stageLayer = mutable.Map[Int, String]()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.layer")))
    layer.foreach(l => stageLayer(e.stageInfo.stageId) = l)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTasks.remove(id).foreach { case (n, s, mx) =>
      if (n >= 2 && s > 0) cur.stageSkews += mx.toDouble / (s.toDouble / n)
    }
    stageLayer.remove(id)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { cur.aqeUpdates += 1 }
    case _ => ()
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    cur.queries += 1
    val ph = qe.tracker.phases
    ph.values.foreach(x => cur.planIntervalsMs += ((x.startTimeMs, x.endTimeMs)))
    cur.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    cur.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    cur.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    cur.outsideWscg += scala.util.Try(Probe.outsideWscg(qe.executedPlan)).getOrElse(0)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Probe.this.synchronized {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch")) cur.addBatchMs += d.get("addBatch")
      if (d.containsKey("triggerExecution")) cur.triggerMs += d.get("triggerExecution")
    }
  }
}

object Probe {
  /** Seconds of [fromMs, toMs] covered by at least one of `intervals` (epoch
    * ms); overlapping intervals count once. */
  def unionS(intervals: Seq[(Long, Long)], fromMs: Long, toMs: Long): Double = {
    var total = 0L
    var endSoFar = fromMs
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, endSoFar)
      val to = math.min(e, toMs)
      if (to > from) total += to - from
      endSoFar = math.max(endSoFar, e)
    }
    total / 1e3
  }

  /** Physical operators that run outside whole-stage codegen: every non-leaf
    * operator not fused into a WholeStageCodegen subtree. Exchanges, query
    * stages, adaptive wrappers and the codegen boundaries themselves are
    * plumbing and are not counted.
    */
  def outsideWscg(p: SparkPlan, inWscg: Boolean = false): Int = p match {
    case a: AdaptiveSparkPlanExec => outsideWscg(a.executedPlan, inWscg)
    case q: QueryStageExec => outsideWscg(q.plan)
    case w: WholeStageCodegenExec => outsideWscg(w.child, inWscg = true)
    case i: InputAdapter => i.children.map(outsideWscg(_)).sum
    case e: org.apache.spark.sql.execution.exchange.Exchange => e.children.map(outsideWscg(_)).sum
    case _ if p.children.isEmpty => 0
    case _ =>
      val here = if (inWscg || p.getClass.getSimpleName.startsWith("AQEShuffleRead")) 0 else 1
      here + p.children.map(outsideWscg(_, inWscg)).sum
  }
}
