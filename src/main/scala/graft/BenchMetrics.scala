package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query executor-side task metrics for the bench artifact (VERDICT
  * r15 item 1): wall-clock alone cannot distinguish a contaminated run
  * (box contention, execution-memory squeeze) from a code regression —
  * the r15 32-core sweep read UNTOUCHED queries 5–36× slower than three
  * same-config control runs and the artifact had nothing to prove why.
  * Recording executor run/CPU/GC time and peak execution memory next to
  * each wall second makes the difference diagnosable: contention shows
  * as wall ≫ run time (tasks waiting, not working), a memory squeeze as
  * GC/spill growth, a real regression as CPU growth.
  *
  * Counters accumulate from [[onTaskEnd]] on the (async) listener bus;
  * the caller drains the bus (`ListenerDrain.drain`) before a snapshot is
  * read — every task of the measured query has already FINISHED when the
  * blocking noop save returns, so the drain only waits out bus delivery,
  * never the query itself.
  */
final class BenchMetrics extends SparkListener {
  private val tasks = new AtomicInteger(0)
  private val runMs = new AtomicLong(0L)
  private val cpuNs = new AtomicLong(0L)
  private val gcMs = new AtomicLong(0L)
  private val peakExecMem = new AtomicLong(0L)
  private val shuffleWriteB = new AtomicLong(0L)
  private val shuffleReadB = new AtomicLong(0L)
  private val spillMemB = new AtomicLong(0L)
  private val spillDiskB = new AtomicLong(0L)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, Math.max _)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillMemB.addAndGet(m.memoryBytesSpilled)
      spillDiskB.addAndGet(m.diskBytesSpilled)
    }
  }

  def reset(): Unit = {
    tasks.set(0); runMs.set(0L); cpuNs.set(0L); gcMs.set(0L)
    peakExecMem.set(0L); shuffleWriteB.set(0L); shuffleReadB.set(0L)
    spillMemB.set(0L); spillDiskB.set(0L)
  }

  /** One query's snapshot as a JSON object fragment. */
  def snapshotJson: String =
    s"""{"tasks":${tasks.get},"run_ms":${runMs.get},""" +
      s""""cpu_ms":${cpuNs.get / 1000000L},"gc_ms":${gcMs.get},""" +
      s""""peak_exec_mem":${peakExecMem.get},""" +
      s""""shuffle_write_b":${shuffleWriteB.get},""" +
      s""""shuffle_read_b":${shuffleReadB.get},""" +
      s""""spill_mem_b":${spillMemB.get},"spill_disk_b":${spillDiskB.get}}"""
}
