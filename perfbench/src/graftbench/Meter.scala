package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters read at span boundaries. Times in seconds, sizes in bytes. */
final case class Snap(
    wall: Double, cpu: Double, gc: Double,
    taskCpu: Double, taskRun: Double,
    shWrite: Long, shRead: Long, spill: Long,
    inBytes: Long, inRecs: Long,
    jobs: Long, stages: Long, tasks: Long) {
  def -(o: Snap): Snap = this + o.scaled(-1)
  def +(o: Snap): Snap = Snap(wall + o.wall, cpu + o.cpu, gc + o.gc,
    taskCpu + o.taskCpu, taskRun + o.taskRun,
    shWrite + o.shWrite, shRead + o.shRead, spill + o.spill,
    inBytes + o.inBytes, inRecs + o.inRecs,
    jobs + o.jobs, stages + o.stages, tasks + o.tasks)
  private def scaled(k: Int): Snap = Snap(k * wall, k * cpu, k * gc,
    k * taskCpu, k * taskRun, k * shWrite, k * shRead, k * spill,
    k * inBytes, k * inRecs, k * jobs, k * stages, k * tasks)
}

object Snap {
  val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Spark listener totals, JMX process CPU and GC time, and the heap a
  * forced full collection leaves.
  */
final class Meter(sc: SparkContext) extends SparkListener {
  private val taskCpuNs, taskRunMs, shWrite, shRead, spill, inBytes, inRecs,
    jobs, stages, tasks = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecs.addAndGet(m.inputMetrics.recordsRead)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heap = ManagementFactory.getMemoryMXBean

  sc.addSparkListener(this)

  /** Heap bytes still in use after a forced full collection (G1 runs it
    * before System.gc() returns). */
  def retainedHeap(): Long = {
    System.gc()
    heap.getHeapMemoryUsage.getUsed
  }

  def processCpu: Double = os.getProcessCpuTime / 1e9

  def snap(): Snap = {
    org.apache.spark.BenchBus.drain(sc)
    Snap(System.nanoTime / 1e9, os.getProcessCpuTime / 1e9,
      gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3,
      taskCpuNs.get / 1e9, taskRunMs.get / 1e3,
      shWrite.get, shRead.get, spill.get, inBytes.get, inRecs.get,
      jobs.get, stages.get, tasks.get)
  }
}
