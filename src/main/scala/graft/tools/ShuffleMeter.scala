package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One completed stage of a metered block: wall ms from submission to
  * completion, task count and summed executor CPU ms.
  */
final case class StageRun(id: Int, ms: Long, tasks: Int, cpuMs: Long)

/** The one listener behind every metered block: jobs started, task CPU,
  * shuffle-write bytes and per-stage figures, summed over whatever runs
  * while it is registered.
  */
final class Meter extends SparkListener {
  private val jobCount = new LongAdder
  private val tasksEnded = new LongAdder
  private val cpuNs = new LongAdder
  private val shuffleBytes = new LongAdder
  private val stageRuns = new ConcurrentLinkedQueue[StageRun]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobCount.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.increment()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      cpuNs.add(m.executorCpuTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val ms = (for (s <- si.submissionTime; c <- si.completionTime)
      yield c - s).getOrElse(-1L)
    stageRuns.add(StageRun(si.stageId, ms, si.numTasks,
      si.taskMetrics.executorCpuTime / 1000000L))
  }

  def jobs: Long = jobCount.sum()
  def taskCpuNs: Long = cpuNs.sum()
  def shuffleWriteBytes: Long = shuffleBytes.sum()
  def stages: Seq[StageRun] = stageRuns.asScala.toSeq.sortBy(_.id)

  /** The listener bus is ASYNC: events can trail the blocking action by a
    * beat, so poll until nothing has changed for 300 ms (bounded at 5 s).
    */
  def quiesce(): Unit = {
    def signature = (jobs, tasksEnded.sum(), shuffleWriteBytes, stageRuns.size)
    var last = signature
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 5000) {
      Thread.sleep(100)
      waited += 100
      val cur = signature
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
  }
}

/** Total shuffle-WRITE bytes of a block of Spark actions, via a task-end
  * listener (round-12 verdict #3: "the currency of 100 TB is bytes
  * crossing exchanges, which wall-time noise masks").
  *
  * Why write-side: every exchange is written exactly once but may be
  * READ many times (AQE retries, ReusedExchange consumers), so write
  * bytes are the stable "how much data crossed the wire" figure — a
  * plan regression that widens a shuffle (lost projection, lost
  * partial-agg, lost broadcast) moves it deterministically, while
  * wall-time needs a 30%+ swing to clear run noise. Bytes wobble only
  * with compression ratios and AQE coalescing — ±few %, so a 2×
  * ceiling pin is safe and tight enough to catch any structural
  * regression (those are 5-100× in practice, e.g. a broadcast join
  * degrading to shuffle).
  *
  * After `body` returns, the [[Meter]] is quiesced before its figures
  * are read, so a caller that times inside `body` never times the wait.
  * Use only from single-threaded harnesses (specs/tools) — concurrent
  * jobs on the same SparkContext would pollute the sums.
  */
object ShuffleMeter {

  /** Run `body`, return (result, totalShuffleWriteBytes). */
  def measure[A](spark: SparkSession)(body: => A): (A, Long) = {
    val (r, m) = metered(spark)(body)
    (r, m.shuffleWriteBytes)
  }

  /** Run `body` under a fresh [[Meter]]; return the result and the
    * quiesced meter.
    */
  def metered[A](spark: SparkSession)(body: => A): (A, Meter) = {
    val m = new Meter
    spark.sparkContext.addSparkListener(m)
    try {
      val r = body
      m.quiesce()
      (r, m)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
