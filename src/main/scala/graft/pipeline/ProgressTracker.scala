package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Progress/stat tracking (reference P4: mutex-guarded counters + progress
  * bar, manager.go:16-39, sync_data.go:200-310) re-expressed as a
  * SparkListener — stage timings and record counts come from the scheduler
  * instead of hand-threaded counters, so they are exact and free.
  */
class ProgressTracker extends SparkListener {
  val jobsStarted = new AtomicLong(0)
  val stagesCompleted = new AtomicLong(0)
  val tasksCompleted = new AtomicLong(0)
  val recordsRead = new LongAdder
  val recordsWritten = new LongAdder
  val executorRunTimeMs = new LongAdder
  val gcMs = new LongAdder
  val serdeMs = new LongAdder

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    stagesCompleted.incrementAndGet()
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      recordsRead.add(m.inputMetrics.recordsRead)
      recordsWritten.add(m.outputMetrics.recordsWritten)
      executorRunTimeMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      serdeMs.add(m.executorDeserializeTime + m.resultSerializationTime)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    tasksCompleted.incrementAndGet()
  }

  def snapshot: ProgressTracker.Snapshot = ProgressTracker.Snapshot(
    jobsStarted.get(), stagesCompleted.get(), tasksCompleted.get(),
    recordsRead.sum(), recordsWritten.sum(), executorRunTimeMs.sum(),
    gcMs.sum(), serdeMs.sum())
}

object ProgressTracker {
  /** `serdeMs` is task deserialize plus result serialize time. */
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, recordsRead: Long,
      recordsWritten: Long, executorRunTimeMs: Long, gcMs: Long, serdeMs: Long)

  /** Attach, run, detach — returns (result, metrics for just that span). */
  def track[A](spark: SparkSession)(body: => A): (A, Snapshot) = {
    val t = new ProgressTracker
    spark.sparkContext.addSparkListener(t)
    try {
      val result = body
      // listener bus is async (private API); bounded settle-wait instead
      val deadline = System.nanoTime() + 10_000_000_000L
      var last = -1L
      while (System.nanoTime() < deadline && t.stagesCompleted.get() != last) {
        last = t.stagesCompleted.get()
        Thread.sleep(100)
      }
      (result, t.snapshot)
    } finally spark.sparkContext.removeSparkListener(t)
  }
}
