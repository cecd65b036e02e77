package graft
package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One finished Spark job, tagged with the job group it ran under. */
final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long)

/** One finished stage attempt and the job that first submitted it. */
final case class StageRec(
    id: Int, attempt: Int, jobId: Int, submitMs: Long, endMs: Long, numTasks: Int)

/** One finished task, with the counters the layer metrics read. */
final case class TaskRec(
    stageId: Int, attempt: Int, launchMs: Long, finishMs: Long,
    runMs: Long, peakExecMem: Long, bytesRead: Long, recordsRead: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Everything the listener saw between two drains. */
final case class Batch(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec]) {

  /** The part of this batch whose jobs ran under `group`. */
  def forGroup(group: String): Batch = {
    val js = jobs.filter(_.group == group)
    val ids = js.map(_.id).toSet
    val ss = stages.filter(s => ids.contains(s.jobId))
    val keys = ss.map(s => (s.id, s.attempt)).toSet
    Batch(js, ss, tasks.filter(t => keys.contains((t.stageId, t.attempt))))
  }
}

/** Layer metrics of one query execution (times in seconds). */
final case class QueryLayers(
    buildS: Double, planS: Double, execS: Double, jobs: Int, tasks: Int,
    driverGapS: Double, execRunS: Double, maxTaskShare: Double,
    shuffleMb: Double, spillMb: Double, bytesRead: Long, recordsRead: Long)

object Layers {
  val MB = 1e6

  /** Length of the union of `intervals`, each clipped to `[lo, hi]`. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Query wall time not covered by any of its jobs. */
  def driverGapMs(startMs: Long, endMs: Long, jobs: Seq[JobRec]): Long =
    (endMs - startMs) - unionMs(jobs.map(j => (j.startMs, j.endMs)), startMs, endMs)

  /** Longest task over its stage's summed task time, maximised over the
    * stages that span at least `gate` of the query's wall time; 0 when no
    * stage passes the gate. */
  def maxTaskShare(wallMs: Long, stages: Seq[StageRec], tasks: Seq[TaskRec],
      gate: Double = 0.1): Double = {
    val byStage = tasks.groupBy(t => (t.stageId, t.attempt))
    stages
      .filter(s => s.endMs - s.submitMs >= gate * wallMs)
      .flatMap { s =>
        val ts = byStage.getOrElse((s.id, s.attempt), Nil).map(t => t.finishMs - t.launchMs)
        val sum = ts.sum
        if (sum > 0) Some(ts.max.toDouble / sum) else None
      }
      .foldLeft(0.0)(math.max)
  }

  /** The metrics of one query from its tagged batch and its own timings. */
  def of(b: Batch, startMs: Long, endMs: Long,
      buildS: Double, planS: Double, execS: Double): QueryLayers =
    QueryLayers(
      buildS = buildS, planS = planS, execS = execS,
      jobs = b.jobs.size, tasks = b.tasks.size,
      driverGapS = driverGapMs(startMs, endMs, b.jobs) / 1e3,
      execRunS = b.tasks.map(_.runMs).sum / 1e3,
      maxTaskShare = maxTaskShare(endMs - startMs, b.stages, b.tasks),
      shuffleMb = b.tasks.map(_.shuffleWriteBytes).sum / MB,
      spillMb = b.tasks.map(_.spillBytes).sum / MB,
      bytesRead = b.tasks.map(_.bytesRead).sum,
      recordsRead = b.tasks.map(_.recordsRead).sum)
}

object Collector {

  /** Job group of the harness's probe job, whose tasks no metric counts. */
  val ProbeGroup = "probe"
}

/** A `SparkListener` that keeps the largest per-task peak execution memory
  * always, and, when `traced`, every job, stage and task until drained.
  * Tasks of the probe's jobs are ignored. */
class Collector(traced: Boolean) extends SparkListener {
  @volatile private var peak = 0L
  private val probeStages = mutable.Set.empty[Int]
  private val open = mutable.Map.empty[Int, (String, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  def peakExecMem: Long = peak
  def resetPeak(): Unit = peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group == Collector.ProbeGroup) probeStages ++= e.stageIds
    else if (traced) {
      open(e.jobId) = (group, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) synchronized {
    open.remove(e.jobId).foreach { case (g, t0) => jobs += JobRec(e.jobId, g, t0, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced) synchronized {
      val i = e.stageInfo
      if (!probeStages.contains(i.stageId)) stages += StageRec(i.stageId, i.attemptNumber(), stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && !synchronized(probeStages.contains(e.stageId))) {
      if (m.peakExecutionMemory > peak) peak = m.peakExecutionMemory
      if (traced) synchronized {
        tasks += TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
          e.taskInfo.finishTime, m.executorRunTime, m.peakExecutionMemory,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      }
    }
  }

  /** Hand over and forget everything finished so far. */
  def drain(): Batch = synchronized {
    val b = Batch(jobs.toList, stages.toList, tasks.toList)
    jobs.clear(); stages.clear(); tasks.clear()
    b
  }
}
