package org.apache.spark

import java.util.Properties

import org.apache.spark.executor.{ExecutorMetrics, TaskMetrics}
import org.apache.spark.scheduler._

/** Listener events with chosen times and counters, for collector tests.
  * Lives in Spark's package because the metric setters are private to it. */
object SyntheticEvents {
  def jobStart(
      jobId: Int, timeMs: Long, group: String, stageIds: Seq[Int]): SparkListenerJobStart = {
    val props = new Properties
    if (group != null) props.setProperty("spark.jobGroup.id", group)
    val infos = stageIds.map(s => new StageInfo(s, 0, s"stage $s", 1, Nil, Nil, "", null, Nil,
      None, 0, false, 0))
    SparkListenerJobStart(jobId, timeMs, infos, props)
  }

  def jobEnd(jobId: Int, timeMs: Long): SparkListenerJobEnd =
    SparkListenerJobEnd(jobId, timeMs, JobSucceeded)

  def stageCompleted(stageId: Int, attempt: Int, submitMs: Long, endMs: Long,
      numTasks: Int): SparkListenerStageCompleted = {
    val info = new StageInfo(stageId, attempt, s"stage $stageId", numTasks, Nil, Nil, "", null,
      Nil, None, 0, false, 0)
    info.submissionTime = Some(submitMs)
    info.completionTime = Some(endMs)
    SparkListenerStageCompleted(info)
  }

  private var nextTask = 0L

  def taskEnd(stageId: Int, attempt: Int, launchMs: Long, finishMs: Long, runMs: Long,
      peakMem: Long = 0L, shuffleBytes: Long = 0L, spillBytes: Long = 0L,
      bytesRead: Long = 0L, recordsRead: Long = 0L): SparkListenerTaskEnd = {
    nextTask += 1
    val info = new TaskInfo(nextTask, 0, 0, 0, launchMs, "driver", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    info.markFinished(TaskState.FINISHED, finishMs)
    val m = new TaskMetrics
    m.setExecutorRunTime(runMs)
    m.setPeakExecutionMemory(peakMem)
    m.shuffleWriteMetrics.incBytesWritten(shuffleBytes)
    m.incDiskBytesSpilled(spillBytes)
    m.inputMetrics.incBytesRead(bytesRead)
    m.inputMetrics.incRecordsRead(recordsRead)
    SparkListenerTaskEnd(stageId, attempt, "ResultTask", Success, info, new ExecutorMetrics, m)
  }
}
