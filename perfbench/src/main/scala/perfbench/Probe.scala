package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Scheduler and shuffle counters at one instant. Differences of two
  * snapshots give the work done between them. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, waitMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    bytesWritten: Long = 0, recordsWritten: Long = 0, skewSum: Double = 0, skewStages: Long = 0,
    jobsByGroup: Map[String, Long] = Map.empty, gcMs: Long = 0, jitMs: Long = 0,
    codegenCompiles: Long = 0) {

  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    runMs - o.runMs, cpuNs - o.cpuNs, waitMs - o.waitMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
    bytesWritten - o.bytesWritten, recordsWritten - o.recordsWritten, skewSum - o.skewSum, skewStages - o.skewStages,
    jobsByGroup.map { case (g, n) => g -> (n - o.jobsByGroup.getOrElse(g, 0L)) },
    gcMs - o.gcMs, jitMs - o.jitMs, codegenCompiles - o.codegenCompiles)

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
      s""""executor_run_ms":$runMs,"shuffle_read_bytes":$shuffleRead,""" +
      s""""shuffle_write_bytes":$shuffleWrite,"bytes_written":$bytesWritten}"""
}

/** A `SparkListener` that keeps running totals of Spark's own task
  * metrics, plus jobs per job group (the benchmark sets one group per
  * operation, so jobs can be attributed without draining the bus). */
final class Probe extends SparkListener {
  private var c = Counts()
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    c = c.copy(jobs = c.jobs + 1,
      jobsByGroup = c.jobsByGroup.updated(group, c.jobsByGroup.getOrElse(group, 0L) + 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitMs((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageSubmitMs.remove(key)
    val durations = stageTaskMs.remove(key).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    c = c.copy(stages = c.stages + 1)
    if (durations.size >= 2) {
      val median = math.max(1L, durations(durations.size / 2))
      c = c.copy(skewSum = c.skewSum + durations.last.toDouble / median, skewStages = c.skewStages + 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    val wait = stageSubmitMs.get(key).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    stageTaskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += info.duration
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1, failedTasks = c.failedTasks + (if (info.successful) 0 else 1))
    else c.copy(
      tasks = c.tasks + 1,
      failedTasks = c.failedTasks + (if (info.successful) 0 else 1),
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      waitMs = c.waitMs + wait,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.diskBytesSpilled,
      bytesWritten = c.bytesWritten + m.outputMetrics.bytesWritten,
      recordsWritten = c.recordsWritten + m.outputMetrics.recordsWritten)
  }

  /** Totals after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(c.copy(gcMs = Probe.gcMs(), jitMs = Probe.jitMs(),
      codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
  }
}

object Probe {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** CPU seconds this process has used (all threads: driver and executors). */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MiB. */
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
