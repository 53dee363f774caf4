package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals

/** One timed layer call: spans of one request share `rid`; `parent` is
  * the id of the span that caused it (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, rid: Long,
    startNs: Long, endNs: Long)

/** In-memory span recorder. With tracing off `span` only runs the body,
  * so the untraced run pays one branch per layer call. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def newId(): Long = ids.incrementAndGet()

  def span[T](name: String, parent: Long = 0, rid: Long = 0)(body: Long => T): T =
    if (!on) body(0)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body(id) finally record(id, parent, name, rid, t0, System.nanoTime())
    }

  def record(id: Long, parent: Long, name: String, rid: Long,
      startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(id, parent, name, rid, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  def count: Int = spans.size
}

/** Window counters taken from outside the library: a SparkListener for
  * jobs/stages/tasks, executor time, shuffle and spill; SQL execution
  * ends for planning time; the JVM for GC time and old-generation
  * occupancy after collection; /proc/stat for steal. */
final class Meter(sc: SparkContext, tracer: Tracer) extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val execRunMs, shuffleWriteBytes, spillBytes = new AtomicLong
  val planMs = new DoubleAdder
  // closed job intervals (System.nanoTime) for the wall no job covers
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var spanParent = 0L

  sc.addSparkListener(this)

  /** Spark-job spans recorded while tracing hang under this span. */
  def parentForJobs(id: Long): Unit = spanParent = id

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, System.nanoTime())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t1 = System.nanoTime()
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      intervals.add((t0, t1))
      tracer.record(tracer.newId(), spanParent, "spark.job", 0, t0, t1)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      execRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => planMs.add(Internals.planningMs(end))
    case _ =>
  }

  def drain(): Unit = Internals.drainListenerBus(sc)

  /** Wall of [t0, t1] not covered by any Spark job. */
  def uncoveredNs(t0: Long, t1: Long): Long = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    (t1 - t0) - covered
  }

  def snapshot(): Meter.Snap = {
    drain()
    Meter.Snap(System.nanoTime(), jobs.get, stages.get, tasks.get,
      execRunMs.get, shuffleWriteBytes.get, spillBytes.get, planMs.sum,
      Meter.gcMs(), Meter.stealTicks())
  }
}

object Meter {
  final case class Snap(ns: Long, jobs: Long, stages: Long, tasks: Long,
      execRunMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
      planMs: Double, gcMs: Long, stealTicks: Long)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Cumulative steal ticks, the 8th value of /proc/stat's cpu line. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  val TicksPerSecond = 100.0

  /** Old-generation occupancy right after a full collection, taken at
    * the run's checkpoints (after set-up, after the window, after the
    * checks); the peak over them. A forced collection makes the reading
    * the live heap rather than whatever the last young pause left. */
  final class HeapPeak {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isCollectionUsageThresholdSupported &&
        p.getName.toLowerCase.contains("old"))
    private var peak = 0L

    def checkpoint(): Unit = {
      System.gc()
      pools.foreach { p =>
        val u = p.getCollectionUsage
        if (u != null && u.getUsed > peak) peak = u.getUsed
      }
    }

    def peakMb: Double = peak / 1048576.0
  }
}
