package graft
package perfbench

import org.apache.spark.SyntheticEvents._
import org.scalatest.funsuite.AnyFunSuite

class CollectorSpec extends AnyFunSuite {

  test("unionMs merges overlapping and nested intervals and clips to the window") {
    assert(Layers.unionMs(Nil, 0, 100) == 0)
    assert(Layers.unionMs(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) == 30)
    assert(Layers.unionMs(Seq((10L, 90L), (20L, 30L)), 0, 100) == 80)
    assert(Layers.unionMs(Seq((-50L, 10L), (95L, 200L)), 0, 100) == 15)
    assert(Layers.unionMs(Seq((40L, 50L), (10L, 20L), (20L, 40L)), 0, 100) == 40)
    assert(Layers.unionMs(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("driver gap is query wall time not covered by any job") {
    val jobs = Seq(JobRec(1, "g", 100, 200), JobRec(2, "g", 150, 300), JobRec(3, "g", 600, 700))
    assert(Layers.driverGapMs(0, 1000, jobs) == 1000 - 300)
    assert(Layers.driverGapMs(0, 1000, Nil) == 1000)
  }

  test("max task share counts only stages spanning a tenth of the query") {
    val stages = Seq(
      StageRec(1, 0, 1, 0, 500, 4), // balanced: 4 equal tasks
      StageRec(2, 0, 1, 500, 900, 1), // one task
      StageRec(3, 0, 1, 900, 950, 2)) // below the gate: 50 ms of 1000 ms
    val tasks =
      Seq.fill(4)(TaskRec(1, 0, 0, 500, 500, 0, 0, 0, 0, 0)) ++
        Seq(TaskRec(2, 0, 500, 900, 400, 0, 0, 0, 0, 0),
          TaskRec(3, 0, 900, 950, 50, 0, 0, 0, 0, 0), TaskRec(3, 0, 900, 901, 1, 0, 0, 0, 0, 0))
    assert(Layers.maxTaskShare(1000, stages, tasks) == 1.0)
    assert(Layers.maxTaskShare(1000, stages.take(1), tasks) == 0.25)
    // stage 3's lopsided tasks pass a lower gate
    val lowGate = Layers.maxTaskShare(1000, stages.drop(2), tasks, gate = 0.01)
    assert(math.abs(lowGate - 50.0 / 51) < 1e-12)
    assert(Layers.maxTaskShare(1000, stages.drop(2), tasks) == 0.0)
  }

  test("collector tags jobs, stages and tasks by job group") {
    val c = new Collector(traced = true)
    c.onJobStart(jobStart(1, 1000, "pass1/q1", Seq(10, 11)))
    c.onStageCompleted(stageCompleted(10, 0, 1000, 1400, 2))
    c.onTaskEnd(taskEnd(10, 0, 1000, 1400, 380, peakMem = 64, shuffleBytes = 2000000))
    c.onTaskEnd(taskEnd(10, 0, 1000, 1100, 90, peakMem = 16, shuffleBytes = 1000000))
    c.onStageCompleted(stageCompleted(11, 0, 1400, 1500, 1))
    c.onTaskEnd(taskEnd(11, 0, 1400, 1500, 95, spillBytes = 3000000))
    c.onJobEnd(jobEnd(1, 1500))
    // a job of another group, and one with no group
    c.onJobStart(jobStart(2, 1600, "pass1/q2", Seq(12)))
    c.onStageCompleted(stageCompleted(12, 0, 1600, 1700, 1))
    c.onTaskEnd(taskEnd(12, 0, 1600, 1700, 99, peakMem = 128))
    c.onJobEnd(jobEnd(2, 1700))
    c.onJobStart(jobStart(3, 1800, null, Seq(13)))
    c.onJobEnd(jobEnd(3, 1850))

    val batch = c.drain()
    assert(batch.jobs.map(_.group) == Seq("pass1/q1", "pass1/q2", ""))
    assert(c.peakExecMem == 128)
    val q1 = batch.forGroup("pass1/q1")
    assert(q1.jobs.map(_.id) == Seq(1))
    assert(q1.stages.map(_.id) == Seq(10, 11))
    assert(q1.tasks.size == 3)
    val l = Layers.of(q1, startMs = 900, endMs = 1600, buildS = 0.05, planS = 0.01, execS = 0.64)
    assert(l.jobs == 1 && l.tasks == 3)
    assert(l.driverGapS == 0.2) // 700 ms wall, one 500 ms job
    assert(l.execRunS == 0.565)
    assert(l.shuffleMb == 3.0 && l.spillMb == 3.0)
    // stage 10 spans 400 ms of 700 ms; its longest task is 400 of 500 ms
    // of task time. Stage 11 (100 ms) also passes the gate, as one task.
    assert(l.maxTaskShare == 1.0)
    assert(Layers.maxTaskShare(700, q1.stages.take(1), q1.tasks) == 0.8)
    assert(c.drain().jobs.isEmpty)
  }

  test("untraced collector keeps only the peak") {
    val c = new Collector(traced = false)
    c.onJobStart(jobStart(1, 0, "g", Seq(1)))
    c.onTaskEnd(taskEnd(1, 0, 0, 10, 10, peakMem = 42))
    c.onJobEnd(jobEnd(1, 10))
    assert(c.peakExecMem == 42)
    assert(c.drain() == Batch(Nil, Nil, Nil))
  }

  test("the probe's jobs, stages and tasks count nowhere") {
    for (traced <- Seq(false, true)) {
      val c = new Collector(traced)
      c.onJobStart(jobStart(1, 0, Collector.ProbeGroup, Seq(1)))
      c.onStageCompleted(stageCompleted(1, 0, 0, 10, 1))
      c.onTaskEnd(taskEnd(1, 0, 0, 10, 10, peakMem = 99))
      c.onJobEnd(jobEnd(1, 10))
      c.onJobStart(jobStart(2, 20, "pass1/q1", Seq(2)))
      c.onTaskEnd(taskEnd(2, 0, 20, 30, 10, peakMem = 7))
      c.onJobEnd(jobEnd(2, 30))
      assert(c.peakExecMem == 7)
      val b = c.drain()
      assert(b.jobs.map(_.id) == (if (traced) Seq(2) else Nil))
      assert(b.stages.isEmpty && b.tasks.size == (if (traced) 1 else 0))
    }
  }
}
