package graftbench

import org.apache.spark.scheduler._

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** In-memory spans, recorded only while [[on]] is set. A span has a
  * name, start and end (ns since the run's start), its parent span and
  * a trace id: `pass<n>/<object>` for sync passes, the query name for
  * queries. Spans opened on other threads (Spark tasks, listener
  * events) hang off the span that is current on the workload thread.
  */
object Trace {
  final case class Span(id: Long, parent: Long, trace: String, name: String, startNs: Long, endNs: Long)

  @volatile var on = false
  @volatile var traceId = ""
  /** The thread that drives the workload; its spans parent the others. */
  @volatile var driverThread: Thread = _
  /** Told the workload thread's current span id, so jobs can carry it. */
  @volatile var onDriverSpan: Long => Unit = _ => ()
  private val origin = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile private var driverParent = 0L

  /** The span that is current on the calling thread, else on the workload thread. */
  def parent: Long = stack.get.headOption.getOrElse(driverParent)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val p = parent
      val driver = Thread.currentThread eq driverThread
      stack.set(id :: stack.get)
      if (driver) { driverParent = id; onDriverSpan(id) }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        if (driver) { driverParent = p; onDriverSpan(p) }
        spans.add(Span(id, p, traceId, name, t0 - origin, t1 - origin))
      }
    }

  /** A span whose interval was measured elsewhere (listener events). */
  def record(name: String, startNs: Long, endNs: Long, parent: Long, trace: String): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, trace, name, startNs - origin, endNs - origin))

  /** One JSON object per line, in recording order. */
  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try spans.forEach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}",""" +
        s""""start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}""")
    } finally w.close()
  }
}

/** Spark-side counters, accumulated from listener events: jobs,
  * stages, tasks, executor run and CPU time, GC, shuffle and spill.
  * Job spans go to [[Trace]] under the span current at job start.
  */
final class SparkCounters extends SparkListener {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleRead = new LongAdder
  val shuffleWrite = new LongAdder
  val spill = new LongAdder
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()

  /** Listener events arrive late; convert their wall-clock ms to ns. */
  private def nanoAt(epochMs: Long): Long = System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(SparkCounters.ParentKey))).map(_.toLong).getOrElse(0L)
    val trace = props.flatMap(p => Option(p.getProperty(SparkCounters.TraceKey))).getOrElse("")
    jobStarts.put(e.jobId, (nanoAt(e.time), parent, trace))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, p, tr) => Trace.record("spark.job", t0, nanoAt(e.time), p, tr) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Current totals, for deltas around a unit of work. */
  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum, "run_ms" -> runMs.sum,
    "cpu_ns" -> cpuNs.sum, "gc_ms" -> gcMs.sum, "shuffle_read" -> shuffleRead.sum,
    "shuffle_write" -> shuffleWrite.sum, "spill" -> spill.sum)
}

object SparkCounters {
  val ParentKey = "graftbench.span"
  val TraceKey = "graftbench.trace"
}
