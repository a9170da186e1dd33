package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import graft.sinks.{BatchedUpsertWriter, ChHttpBatchExecutor, ChHttpClient}
import graft.sources.EsRestClient

/** Process-wide layer counters (Spark runs in local mode, so executor
  * tasks share them) and the busy intervals of the current pass, from
  * which the untimed remainder of a pass is computed.
  */
object Layer {
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  def add(name: String, n: Long): Unit = counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def busy(startNs: Long, endNs: Long): Unit = intervals.add((startNs, endNs))

  /** Time `body`, adding its ns to `name` and its interval to the pass. */
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      add(name, t1 - t0)
      busy(t0, t1)
    }
  }

  def snapshot: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap
  }

  /** Length of the union of the busy intervals recorded since the last call. */
  def drainCoveredNs(): Long = {
    val all = Iterator.continually(intervals.poll()).takeWhile(_ != null).toVector.sortBy(_._1)
    var covered = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    all.foreach { case (a, b) =>
      if (a > e) { if (e > s) covered += e - s; s = a; e = b } else if (b > e) e = b
    }
    if (e > s) covered += e - s
    covered
  }
}

/** ES client timing the calls a sync pass makes into `graft.sources`. */
final class TimedEsClient(host: String) extends EsRestClient(host) {
  override def catIndices(pattern: String): Seq[String] =
    Layer.time("discover_ns")(Trace.span("es.cat_indices")(super.catIndices(pattern)))

  override def mappingFieldsDetailed(index: String): Map[String, (String, String)] =
    Layer.time("discover_ns")(Trace.span("es.mapping")(super.mappingFieldsDetailed(index)))

  override def scrollPages(index: String, body: String, scrollTimeout: String)(
      onPage: Seq[(String, String)] => Unit): Long =
    docs(Layer.time("es_read_ns")(Trace.span("es.scroll")(super.scrollPages(index, body, scrollTimeout)(onPage))))

  private def docs(n: Long): Long = { Layer.add("es_docs_read", n); n }
}

/** Target client splitting its statements into DDL, sync-state and
  * other, by SQL prefix.
  */
final class TimedChClient(endpoint: String) extends ChHttpClient(endpoint) {
  override def execute(sql: String): String = {
    val kind =
      if (sql.startsWith("SELECT max(`last_sync_time`)") || sql.contains("`_sync_state` (")) "state"
      else if (sql.startsWith("CREATE ") || sql.startsWith("ALTER ") || sql.startsWith("DESCRIBE ") ||
        sql.startsWith("SHOW ")) "ddl"
      else "other"
    Layer.add(s"${kind}_requests", 1)
    Layer.time(s"${kind}_ns")(Trace.span(s"ch.$kind")(super.execute(sql)))
  }
}

/** Wraps the engine's HTTP batch executor: counts batch attempts and
  * requests, and times every `execute`. A single-row call right after a
  * failed batch is the writer's row-at-a-time fallback, not a batch.
  */
final class TimedBatchExecutor(endpoint: String) extends BatchedUpsertWriter.BatchExecutor {
  private val inner = new ChHttpBatchExecutor(endpoint)
  private var fallbackLeft = 0

  override def execute(insertSql: String, rows: Seq[Seq[Any]]): Unit = {
    val fallback = fallbackLeft > 0
    if (fallback) fallbackLeft -= 1 else Layer.add("write_batches", 1)
    Layer.add("write_requests", 1)
    try Layer.time("write_ns")(Trace.span("write.execute")(inner.execute(insertSql, rows)))
    catch {
      case e: Exception =>
        if (!fallback) fallbackLeft = rows.size
        throw e
    }
  }

  override def close(): Unit = inner.close()
}
