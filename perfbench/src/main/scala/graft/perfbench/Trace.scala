package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are `System.nanoTime` readings;
  * `parent` is 0 for a root span.
  */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    run: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Records spans around the benchmark's calls into each layer and tags the
  * Spark jobs each call launches with the span's id (a thread-local Spark
  * property, inherited by threads the call starts). Spans stay in memory
  * and are written out once the run ends.
  *
  * With `enabled = false` every call runs bare: no clock reads, no
  * property writes, nothing kept.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val counts = new ConcurrentHashMap[(Long, String), AtomicLong]()
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get()
      current.set(id)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans.synchronized { spans += Span(id, name, layer, parent, runId, t0, t1) }
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanProp,
          if (parent == 0L) null else parent.toString)
      }
    }

  /** Add `n` to a named count on the innermost open span of this thread. */
  def count(key: String, n: Long): Unit =
    if (enabled) counts.computeIfAbsent((current.get().longValue, key),
      _ => new AtomicLong).addAndGet(n)

  def countOf(span: Span, key: String): Long =
    Option(counts.get((span.id, key))).map(_.get).getOrElse(0L)

  def all: Seq[Span] = spans.synchronized(spans.toVector)
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Job interval plus the task metrics of its stages, keyed by the span
  * that launched it (-1 when untagged). Times are wall-clock
  * milliseconds, the resolution Spark's scheduler events carry.
  */
final class JobRec(val id: Int, val span: Long, val startMs: Long,
    val stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
  val cpuNs = new AtomicLong
  val inputRecords = new AtomicLong
  val outputRecords = new AtomicLong
  val outputBytes = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val tasks = new AtomicLong
}

/** The benchmark's own SparkListener: job intervals and per-job task
  * metrics. Events arrive asynchronously; read them only after
  * [[drain]].
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(-1L)
    val r = new JobRec(e.jobId, span, e.time, e.stageIds)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.put(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val r = stageJob.get(e.stageId)
    if (m != null && r != null) {
      r.cpuNs.addAndGet(m.executorCpuTime)
      r.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      r.outputRecords.addAndGet(m.outputMetrics.recordsWritten)
      r.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      r.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      r.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      r.tasks.incrementAndGet()
    }
  }

  def finished: Seq[JobRec] =
    jobs.values.asScala.filter(_.endMs >= 0).toVector.sortBy(_.id)

  /** Wait until every posted event reached this listener. The method is
    * private[spark] in source but public in bytecode.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}

/** JVM-wide counters read at the edges of the measured window. */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since [[resetPeak]]: an upper bound on
    * the simultaneous peak.
    */
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def maxHeapMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0
}
