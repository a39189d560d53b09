package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level work attributed to one span. */
final class TaskWork {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, inputRows = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes = 0L

  def add(o: TaskWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes
  }
}

/** Scheduler/executor/shuffle/storage counters, keyed by the span whose
  * local property the job carried. Jobs without one are counted as
  * orphans: the harness asserts there are none. */
final class SchedulerLayer extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, TaskWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile var orphanJobs = 0L

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Spans.Property))).map(_.toInt)
  private def work(span: Int): TaskWork =
    bySpan.computeIfAbsent(span, _ => new TaskWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties) match {
    case Some(s) =>
      work(s).synchronized(work(s).jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    case None => synchronized(orphanJobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      work(s).synchronized(work(s).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageSpan.get(e.stageId)).foreach { s =>
      val w = work(s)
      w.synchronized {
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Sum of the work of the given spans. */
  def total(spans: Set[Int]): TaskWork = {
    val t = new TaskWork
    spans.foreach(s => Option(bySpan.get(s)).foreach(w => w.synchronized(t.add(w))))
    t
  }
}

/** Counts of executed-plan operators, after adaptive re-planning. */
final case class PlanShape(exchanges: Long = 0, smj: Long = 0, bhj: Long = 0,
    windows: Long = 0, rddScans: Long = 0) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    smj + o.smj, bhj + o.bhj, windows + o.windows, rddScans + o.rddScans)
}

object PlanShape extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanShape = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    PlanShape(
      exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      windows = nodes.count(_.isInstanceOf[WindowExec]),
      rddScans = nodes.count(_.isInstanceOf[RDDScanExec]))
  }
}

/** Catalyst phase times and plan shapes, summed over every query
  * execution: Dataset actions reach this listener, and the harness adds
  * the frames it materializes itself through [[record]]. */
final class CatalystLayer extends QueryExecutionListener {
  var executions = 0L
  var analysisS, optimizationS, planningS = 0.0
  var shape = PlanShape()

  def reset(): Unit = synchronized {
    executions = 0; analysisS = 0; optimizationS = 0; planningS = 0
    shape = PlanShape()
  }

  def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def sec(phase: String): Double =
      phases.get(phase).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    val s = PlanShape.of(qe.executedPlan)
    synchronized {
      executions += 1
      analysisS += sec("analysis")
      optimizationS += sec("optimization")
      planningS += sec("planning")
      shape = shape + s
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized(executions += 1)
}

/** Micro-batch progress of every streaming query. */
final class StreamingLayer extends StreamingQueryListener {
  import StreamingQueryListener._
  var batches = 0L
  var triggerMs, addBatchMs, walMs, stateCommitMs, stateRows = 0L

  def reset(): Unit = synchronized {
    batches = 0; triggerMs = 0; addBatchMs = 0; walMs = 0; stateCommitMs = 0
    stateRows = 0
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    synchronized {
      batches += 1
      triggerMs += ms("triggerExecution")
      addBatchMs += ms("addBatch")
      walMs += ms("walCommit") + ms("commitOffsets")
      p.stateOperators.foreach { op =>
        stateCommitMs += op.commitTimeMs
        stateRows += op.numRowsUpdated
      }
    }
  }
}
