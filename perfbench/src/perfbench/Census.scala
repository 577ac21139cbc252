package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark job/stage/task census, registered by the benchmark itself. Counts
  * jobs, stages and tasks, and sums shuffle and output bytes, shuffle fetch
  * wait, GC and run time, and failed tasks (input bytes: `ScanBytes`).
  * Per-stage task durations give the task-time skew of each job's heaviest
  * stage. */
final class Census extends SparkListener {
  final case class Snap(
      jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
      shuffleBytes: Long, fetchWaitMs: Long,
      outputBytes: Long, gcMs: Long, runMs: Long, taskSkew: Double)

  private var jobsStarted = 0L
  private var jobsEnded = 0L
  private var stagesSubmitted = 0L
  private var stagesCompleted = 0L
  private var tasksStarted = 0L
  private var tasksEnded = 0L
  private var failed = 0L
  private var shuffle = 0L
  private var fetchWait = 0L
  private var output = 0L
  private var gc = 0L
  private var run = 0L
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stagesSubmitted += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesCompleted += 1 }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { tasksStarted += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasksEnded += 1
    if (e.taskInfo.failed || e.taskInfo.killed) failed += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffle += m.shuffleWriteMetrics.bytesWritten
      fetchWait += m.shuffleReadMetrics.fetchWaitTime
      output += m.outputMetrics.bytesWritten
      gc += m.jvmGCTime
      run += m.executorRunTime
    }
  }

  /** Wait until the asynchronous listener bus has delivered the end of every
    * job, stage and task it announced. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def quiet = synchronized {
      jobsEnded == jobsStarted && stagesCompleted == stagesSubmitted && tasksEnded == tasksStarted
    }
    Thread.sleep(50)
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Max/median task time of each job's heaviest stage, worst job. */
  private def skew(): Double = {
    val byJob = taskMs.toSeq.groupBy { case (stage, _) => jobOfStage.getOrElse(stage, -1) }
    val perJob = byJob.values.flatMap { stages =>
      val (_, durs) = stages.maxBy(_._2.sum)
      if (durs.isEmpty) None
      else Some(durs.max.toDouble / math.max(1.0, Stats.median(durs.map(_.toDouble).toSeq)))
    }
    if (perJob.isEmpty) 0.0 else perJob.max
  }

  def snap(): Snap = synchronized {
    Snap(jobsEnded, stagesCompleted, tasksEnded, failed, shuffle, fetchWait,
      output, gc, run, skew())
  }

  def reset(): Unit = synchronized {
    jobsStarted = 0; jobsEnded = 0; stagesSubmitted = 0; stagesCompleted = 0
    tasksStarted = 0; tasksEnded = 0; failed = 0; shuffle = 0
    fetchWait = 0; output = 0; gc = 0; run = 0
    jobOfStage.clear(); taskMs.clear()
  }
}

/** Bytes of files the file scans of each finished query read (the scan's
  * "size of files read" metric). Task input metrics do not see parquet's
  * reads, so scan bytes are taken from the plans. */
final class ScanBytes extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var bytes = 0L

  private def record(qe: QueryExecution): Unit = {
    val b = collect(qe.executedPlan) {
      case s: FileSourceScanLike => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
    synchronized { bytes += b }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def total: Long = synchronized(bytes)
}
