package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Spark and JVM counters read through listeners the benchmark registers.
  *
  * Totals accumulate from registration on; callers take [[snapshot]]s and
  * subtract, so a window covers exactly the operations between two reads.
  */
final class Counters(spark: SparkSession) {
  import Counters.Snap

  private val jobs, tasks, runMs, delayMs, gcMs, shufW, shufR, inB, outB, spill =
    new AtomicLong(0)

  /** (triggerExecution ms, addBatch ms) of every streaming micro-batch. */
  val batches = new ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        inB.addAndGet(m.inputMetrics.bytesRead)
        outB.addAndGet(m.outputMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        // scheduler delay as Spark's UI derives it: task wall time not
        // spent deserializing, running or shipping the result
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        delayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      if (e.progress.numInputRows > 0)
        batches.add((d.get("triggerExecution").map(_.longValue).getOrElse(0L),
          d.get("addBatch").map(_.longValue).getOrElse(0L)))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  private var heapPeak = 0L

  /** Heap in use right after the most recent collection of each pool,
    * summed; the maximum over all samples is the run's live-set peak.
    */
  def sampleHeap(): Unit = {
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum
    synchronized { heapPeak = math.max(heapPeak, used) }
  }
  def heapPeakMb: Double = {
    val peak: Long = synchronized(heapPeak)
    peak / 1048576.0
  }

  def snapshot(): Snap = {
    org.apache.spark.graftbenchshim.Bus.drain(spark.sparkContext)
    Snap(jobs.get, tasks.get, runMs.get, delayMs.get, gcMs.get,
      shufW.get, shufR.get, inB.get, outB.get, spill.get, System.nanoTime())
  }

  /** The Spark/JVM layer metrics of one window on `cores` task slots. */
  def layerMetrics(w: Snap, cores: Int): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", w.jobs.toDouble, "count"),
    ("spark.tasks", w.tasks.toDouble, "count"),
    ("spark.task_busy_share", w.runMs / (w.atNs / 1e6 * cores), "ratio"),
    ("spark.scheduler_delay_ms", if (w.tasks == 0) 0.0 else w.delayMs.toDouble / w.tasks, "ms"),
    ("spark.gc_ms", w.gcMs.toDouble, "ms"),
    ("spark.shuffle_write_bytes", w.shufW.toDouble, "bytes"),
    ("spark.shuffle_read_bytes", w.shufR.toDouble, "bytes"),
    ("spark.input_bytes", w.inB.toDouble, "bytes"),
    ("spark.output_bytes", w.outB.toDouble, "bytes"),
    ("spark.spill_bytes", w.spill.toDouble, "bytes"),
    ("jvm.heap_after_gc_peak_mb", heapPeakMb, "MB"))

  Counters.current = this

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object Counters {
  final case class Snap(jobs: Long, tasks: Long, runMs: Long, delayMs: Long,
      gcMs: Long, shufW: Long, shufR: Long, inB: Long, outB: Long, spill: Long,
      atNs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
      delayMs - o.delayMs, gcMs - o.gcMs, shufW - o.shufW,
      shufR - o.shufR, inB - o.inB, outB - o.outB, spill - o.spill, atNs - o.atNs)
  }

  /** The counters of the session being measured. */
  @volatile var current: Counters = _
}
