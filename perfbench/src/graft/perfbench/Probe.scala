package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLongArray

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark task/stage counters; subtract two snapshots for an
  * interval.
  */
final case class Counters(v: Vector[Long]) {
  import Counters._
  def -(o: Counters): Counters = Counters(v.zip(o.v).map { case (a, b) => a - b })
  def apply(f: Int): Long = v(f)
  def written: Long = v(ShuffleWrite) + v(SpillDisk)
}

object Counters {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val FailedTasks = 3
  val RunMs = 4; val CpuNs = 5; val GcMs = 6; val ResultBytes = 7
  val ShuffleWrite = 8; val ShuffleRead = 9; val SpillDisk = 10
  val SpillMem = 11; val InputBytes = 12
  val Size = 13
}

/** The benchmark's own SparkListener: job/stage/task counts, task
  * metrics summed per completed stage, and stage spans for the
  * driver-gap computation.
  */
final class SparkProbe extends SparkListener {
  import Counters._
  private val c = new AtomicLongArray(Size)
  private val spans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = c.incrementAndGet(Jobs)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.failed) c.incrementAndGet(FailedTasks)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    c.incrementAndGet(Stages)
    c.addAndGet(Tasks, si.numTasks)
    for (s <- si.submissionTime; f <- si.completionTime) spans.add((s, f))
    val m = si.taskMetrics
    if (m != null) {
      c.addAndGet(RunMs, m.executorRunTime)
      c.addAndGet(CpuNs, m.executorCpuTime)
      c.addAndGet(GcMs, m.jvmGCTime)
      c.addAndGet(ResultBytes, m.resultSize)
      c.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      c.addAndGet(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      c.addAndGet(SpillDisk, m.diskBytesSpilled)
      c.addAndGet(SpillMem, m.memoryBytesSpilled)
      c.addAndGet(InputBytes, m.inputMetrics.bytesRead)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Counters(Vector.tabulate(Size)(c.get))
  }

  /** Stage spans (epoch ms) overlapping `[lo, hi)`; older spans are
    * dropped.
    */
  def stageSpans(lo: Long, hi: Long): Seq[(Long, Long)] = {
    spans.removeIf { case (_, f) => f < lo }
    spans.asScala.filter { case (s, _) => s < hi }.toSeq
  }
}

/** Per-micro-batch readouts of the benchmark's StreamingQueryListener. */
final case class BatchProgress(batchId: Long, inputRows: Long, durationMs: Long,
    commitMs: Long, stateRows: Long, stateBytes: Long)

final class StreamProbe extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val ops = p.stateOperators.toSeq
      batches.add(BatchProgress(p.batchId, p.numInputRows, p.batchDuration,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum))
    }
  }
  def drainAll(): Seq[BatchProgress] = {
    val out = Seq.newBuilder[BatchProgress]
    var b = batches.poll()
    while (b != null) { out += b; b = batches.poll() }
    out.result()
  }
}

/** Process-level readouts of this JVM (driver and local executors). */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  /** Peak resident set (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
}
