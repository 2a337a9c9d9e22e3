package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-run stage attribution for [[Bench]] — converts "the residual is
  * per-stage scheduling floor" from assertion to measurement.
  *
  * For every benchmark execution it accumulates, across all jobs the
  * query triggers (including AQE re-plans and broadcast builds):
  *
  *  - `stages`: stages actually executed;
  *  - `taskSec`: Σ task executor run time (the work the cluster did);
  *  - `cpuSec`: Σ task executor CPU time (taskSec minus shuffle/IO
  *    blocking);
  *  - `stageWallSec`: Σ per-stage (completion − submission) wall time.
  *
  * The floor/compute split reported in BENCH_NOTES derives as:
  * ideal compute = taskSec / cores (perfect parallelism), floor =
  * measured wall − ideal compute — scheduling gaps, driver-side
  * broadcast collects, AQE stage materialization barriers, and task
  * dispatch for sub-millisecond tasks all land in the floor term.
  * Stages from concurrent jobs can overlap, so `stageWallSec` may
  * exceed the run's wall clock; it is a diagnostic, not a partition of
  * wall time.
  *
  * Listener events arrive asynchronously on the listener bus, so every
  * reading goes through [[measure]], which waits for all started jobs
  * to end and the counts to stop moving before and after the run: its
  * [[StageClock.Receipt]] covers exactly that run's work.
  */
final class StageClock extends SparkListener {
  private val lock = new Object
  private var stages = 0
  private var jobsCount = 0
  private var taskTimeMs = 0L
  private var cpuTimeNs = 0L
  private var stageWallMs = 0L
  private var shuffleRecs = 0L
  private var shuffleWriteBytes = 0L
  private var maxTaskShuffleReadRecs = 0L
  private var activeJobs = 0

  override def onTaskEnd(
      e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val r = m.shuffleReadMetrics.recordsRead
        if (r > maxTaskShuffleReadRecs) maxTaskShuffleReadRecs = r
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    lock.synchronized { activeJobs += 1; jobsCount += 1 }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lock.synchronized { activeJobs -= 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      stages += 1
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        cpuTimeNs += m.executorCpuTime
        shuffleRecs += m.shuffleWriteMetrics.recordsWritten
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      stageWallMs += (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield c - s).getOrElse(0L)
    }

  /** Runs `body` as one measured run: waits for the listener bus to
    * drain earlier work, zeroes the counters, times `body`, drains this
    * run's events and reads the counters. The drains sit outside the
    * timed window, so the wait never pollutes the wall time.
    */
  def measure[T](body: => T): (T, StageClock.Receipt) = {
    quiesce(); reset()
    val t0 = System.nanoTime()
    val out = body
    val wallMs = (System.nanoTime() - t0) / 1e6
    quiesce()
    (out, lock.synchronized(StageClock.Receipt(wallMs, jobsCount, stages,
      taskTimeMs / 1e3, cpuTimeNs / 1e9, stageWallMs / 1e3, shuffleRecs,
      shuffleWriteBytes, maxTaskShuffleReadRecs)))
  }

  private def reset(): Unit = lock.synchronized {
    stages = 0; jobsCount = 0; taskTimeMs = 0L; cpuTimeNs = 0L
    stageWallMs = 0L; shuffleRecs = 0L; shuffleWriteBytes = 0L
    maxTaskShuffleReadRecs = 0L
  }

  /** Wait (at most 2 s) until the listener bus has drained this run's
    * events: no active jobs and stable counters twice in a row.
    */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 2000L * 1000000L
    var last = (-1, -1L)
    while (System.nanoTime() < deadline) {
      val cur = lock.synchronized {
        if (activeJobs == 0) (stages, taskTimeMs) else (-2, -2L)
      }
      if (cur == last && cur._1 >= 0) return
      last = cur
      Thread.sleep(5)
    }
  }
}

object StageClock {
  /** What one [[StageClock.measure]] run did.
    *
    *  - `wallMs`: the body's wall clock;
    *  - `jobs`: jobs started — each job in local mode costs a measured
    *    ~30-45 ms of scheduler floor regardless of task count, so job
    *    count (AQE stage materializations + broadcast builds + the
    *    final job) is the first-order floor model for sub-second runs;
    *  - `stages`, `taskSec`, `cpuSec`, `stageWallSec`: see the class doc;
    *  - `shuffleRecords`: shuffle records WRITTEN — the candidate-volume
    *    proxy the scale-growth property test fits its exponent over;
    *  - `shuffleBytes`: shuffle bytes WRITTEN — the wire-cost meter
    *    (the packed-vector tier's saving lives here, not in
    *    parquet-on-disk bytes, which snappy already squeezes);
    *  - `maxTaskShuffleRead`: the largest shuffle-read record count of
    *    any single task — the skew diagnostic: a hot key that
    *    concentrates on one reducer shows up here long before it OOMs a
    *    real executor.
    */
  final case class Receipt(wallMs: Double, jobs: Int, stages: Int,
      taskSec: Double, cpuSec: Double, stageWallSec: Double,
      shuffleRecords: Long, shuffleBytes: Long, maxTaskShuffleRead: Long)
}
