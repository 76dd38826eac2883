package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Cumulative scheduler and task-metric listener for the profiling
  * tools ([[QueryProfile]]): job, stage and task
  * counts, run time, GC, spill, shuffle records/bytes, peak execution
  * memory — snapshot deltas bracket a measured block. */
final class StageMetrics(spark: SparkSession) extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runTimeMs = new AtomicLong
  val gcTimeMs = new AtomicLong
  val memSpill = new AtomicLong
  val diskSpill = new AtomicLong
  val shufReadRec = new AtomicLong
  val shufReadBytes = new AtomicLong
  val shufWriteRec = new AtomicLong
  val shufWriteBytes = new AtomicLong
  val peakExecMem = new AtomicLong
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(ev: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(ev.stageInfo.numTasks)
    val m = ev.stageInfo.taskMetrics
    if (m != null) {
      runTimeMs.addAndGet(m.executorRunTime)
      gcTimeMs.addAndGet(m.jvmGCTime)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      shufReadRec.addAndGet(m.shuffleReadMetrics.recordsRead)
      shufReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWriteRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      shufWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      peakExecMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
    }
  }

  case class Snap(jobs: Long, stages: Long, tasks: Long, runTimeMs: Long,
      gcTimeMs: Long, memSpill: Long, diskSpill: Long, shufReadRec: Long,
      shufReadBytes: Long, shufWriteRec: Long, shufWriteBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runTimeMs - o.runTimeMs,
      gcTimeMs - o.gcTimeMs, memSpill - o.memSpill,
      diskSpill - o.diskSpill, shufReadRec - o.shufReadRec,
      shufReadBytes - o.shufReadBytes, shufWriteRec - o.shufWriteRec,
      shufWriteBytes - o.shufWriteBytes)
  }

  private def read(): Snap =
    Snap(jobs.get, stages.get, tasks.get, runTimeMs.get, gcTimeMs.get,
      memSpill.get, diskSpill.get,
      shufReadRec.get, shufReadBytes.get, shufWriteRec.get,
      shufWriteBytes.get)

  /** Listener events are async (the bus drain API is private[spark]);
    * poll until two consecutive reads agree. Rounds run seconds, so
    * ≤1 s of settle time cannot blur which round a stage belongs to. */
  def snapshot(): Snap = {
    var prev = read()
    var i = 0
    while (i < 10) {
      Thread.sleep(100)
      val cur = read()
      if (cur == prev) i = 10 else { prev = cur; i += 1 }
    }
    prev
  }
}
