package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Driver heap still occupied after each GC, from GC notifications; the
  * peak since the last [[reset]] is the cycle's live-heap high-water mark.
  * Occupancy after GC, not `totalMemory - freeMemory`, which swings with
  * whatever garbage the collector has not reached yet. */
object HeapPeak {
  @volatile private var peak = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def reset(): Unit = HeapPeak.synchronized { peak = 0L }
  /** Peak after-GC occupancy in bytes since [[reset]]; 0 when no GC ran. */
  def get: Long = peak
}

/** Bytes allocated by the calling thread, from the JVM's ThreadMXBean. */
object Alloc {
  private val bean = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  def current: Long = bean.getCurrentThreadAllocatedBytes
}

/** One span: a call into one layer, timed from the benchmark's side. */
final case class Span(id: Int, name: String, parent: Int, cycle: Int,
                      startMs: Long, endMs: Long, nanos: Long, allocBytes: Long) {
  def seconds: Double = nanos / 1e9
}

/** Spark work attributed to one span: jobs, tasks and their metrics. */
final class SpanWork {
  var tasks = 0L
  var cpuNs = 0L
  var taskMaxMs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  val jobs = mutable.Map[Int, (Long, Long)]() // jobId -> (start, end) ms
}

/** Spans kept in memory, plus a SparkListener that attributes every job's
  * tasks to the span that was open on the driver thread when the job was
  * submitted (a local property travels with the job). */
final class Tracer(sc: SparkContext, runId: String) {
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  var cycle = 0

  private val work = new java.util.concurrent.ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private def workOf(span: Int) = work.computeIfAbsent(span, _ => new SpanWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).foreach { s =>
        e.stageIds.foreach(stageSpan.put(_, s))
        workOf(s).synchronized { workOf(s).jobs(e.jobId) = (e.time, Long.MaxValue) }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      work.values.asScala.foreach { w =>
        w.synchronized { w.jobs.get(e.jobId).foreach { case (s, _) => w.jobs(e.jobId) = (s, e.time) } }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val w = workOf(s)
        w.synchronized {
          w.tasks += 1
          w.taskMaxMs = math.max(w.taskMaxMs, e.taskInfo.duration)
          Option(e.taskMetrics).foreach { m =>
            w.cpuNs += m.executorCpuTime
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = { org.apache.spark.ListenerBusAccess.drain(sc); sc.removeSparkListener(listener) }

  /** Run `body` inside a span named after the call it wraps. */
  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    spans += null // reserve the id; filled in when the span closes
    val parent = open.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(Key)
    open = id :: open
    sc.setLocalProperty(Key, id.toString)
    val startMs = System.currentTimeMillis()
    val a0 = Alloc.current
    val t0 = System.nanoTime()
    try body
    finally {
      val nanos = System.nanoTime() - t0
      spans(id) = Span(id, name, parent, cycle, startMs, System.currentTimeMillis(), nanos, Alloc.current - a0)
      open = open.tail
      sc.setLocalProperty(Key, prevProp)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(sc)

  def workFor(span: Span): SpanWork = Option(work.get(span.id)).getOrElse(new SpanWork)

  /** Span wall time not covered by any of its own Spark jobs. */
  def driverOnlySeconds(span: Span): Double = {
    val w = workFor(span)
    val ivs = w.synchronized(w.jobs.values.toSeq)
      .map { case (s, e) => (math.max(s, span.startMs), math.min(e, span.endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    math.max(0.0, span.seconds - covered / 1e3)
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(span: Span): Double =
    span.seconds - spans.filter(_.parent == span.id).map(_.seconds).sum

  /** Spans as JSON lines: name, start, end, parent, run id. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"run":"$runId","cycle":${s.cycle},"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},"self_s":${selfSeconds(s)},""" +
      s""""alloc_bytes":${s.allocBytes}}"""
  }
}

/** Hypervisor steal from the aggregate `cpu` line of /proc/stat: ticks the
  * guest's CPUs wanted to run but the host gave to other guests. */
object Steal {
  /** (busy ticks including steal, steal ticks) now. */
  def read(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    (f(0) + f(1) + f(2) + f(5) + f(6) + f(7), f(7))
  }
  /** Share of the CPU time wanted between two readings that was stolen. */
  def share(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    if (busy <= 0) 0.0 else (to._2 - from._2).toDouble / busy
  }
}
