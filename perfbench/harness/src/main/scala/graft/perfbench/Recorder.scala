package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as the listener buses' `System.currentTimeMillis` stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One harness operation: a query, a micro-batch or a statement. */
final class Op(val id: String, val name: String, val kind: String,
               val phase: String) {
  val startMs: Double = Clock.nowMs
  var builtMs: Double = Double.NaN
  var endMs: Double = Double.NaN
  var ok: Boolean = false
  var error: String = ""
  var result: String = ""
}

/** Per-op task totals, folded in as task-end events arrive. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var durationMs = 0L
  var launchMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var running = 0
  var peak = 0
}

/** Reads Spark's listener bus and attributes what it sees to the harness
  * operation that caused it. Jobs are attributed by the job group the
  * harness sets around each call (micro-batches by their batch id), stages
  * and tasks through the stage-to-job map, so nothing depends on a global
  * running counter. Everything stays in memory until the run ends.
  *
  * Catalyst phase times come from each SQL execution-end event's
  * `QueryExecution.tracker`. A `QueryExecutionListener` would carry the
  * same tracker, but the session stops delivering its callbacks once a
  * declarative-pipeline query (`q_sdp_pipeline`) has run.
  *
  * `enabled` gates the per-event work: untraced runs register the
  * listener but record nothing.
  */
final class Recorder extends SparkListener {
  @volatile var enabled = false

  case class Job(id: Int, op: String, startMs: Long, var endMs: Long)
  case class Stage(id: Int, op: String, job: Int, var submittedMs: Long,
                   var completedMs: Long)
  case class Execution(id: Long, startMs: Long, var aqeUpdates: Int)
  case class Planning(endMs: Long, phases: Map[String, (Long, Long)])

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val totals = mutable.LinkedHashMap.empty[String, TaskTotals]
  val executions = mutable.LinkedHashMap.empty[Long, Execution]
  val plannings = mutable.ArrayBuffer.empty[Planning]
  private val stageOp = mutable.HashMap.empty[Int, String]
  @volatile private var lastEventMs = System.currentTimeMillis()

  /** Op key of a job: its micro-batch, else the harness's job group. */
  private def opOf(p: java.util.Properties): String =
    if (p == null) ""
    else Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  /** Milliseconds since the buses last delivered an event. */
  def quietMs: Long = System.currentTimeMillis() - lastEventMs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    if (enabled) {
      val op = opOf(e.properties)
      jobs += Job(e.jobId, op, e.time, -1L)
      e.stageInfos.foreach { s =>
        stageOp(s.stageId) = op
        stages.getOrElseUpdate(s.stageId, Stage(s.stageId, op, e.jobId, -1L, -1L))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  private def totalsOf(stageId: Int): Option[TaskTotals] =
    stageOp.get(stageId).map(op => totals.getOrElseUpdate(op, new TaskTotals))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    touch()
    totalsOf(e.stageId).foreach { t =>
      t.running += 1
      t.peak = math.max(t.peak, t.running)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    totalsOf(e.stageId).foreach { t =>
      t.running = math.max(t.running - 1, 0)
      t.tasks += 1
      val info = e.taskInfo
      val duration = math.max(info.finishTime - info.launchTime, 0L)
      t.durationMs += duration
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.launchMs += math.max(duration - m.executorRunTime, 0L)
        t.gcMs += m.jvmGCTime
        t.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    touch()
    if (enabled) e match {
      case s: SparkListenerSQLExecutionStart =>
        executions(s.executionId) = Execution(s.executionId, s.time, 0)
      case s: SparkListenerSQLExecutionEnd =>
        queryExecution(s).foreach(planned)
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        executions.get(s.executionId).foreach(x => x.aqeUpdates += 1)
      case _ => ()
    }
  }

  /** The event's `qe` (Spark-internal accessor, so read reflectively). */
  private def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.collect {
      case qe: QueryExecution => qe
    }

  private def planned(qe: QueryExecution): Unit =
    plannings += Planning(System.currentTimeMillis(),
      qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
}

/** Collects every micro-batch's progress JSON. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress.json)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
