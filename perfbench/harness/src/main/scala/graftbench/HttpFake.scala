package graftbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Request accounting every fake shares: request count, bytes in and
  * out, time spent serving, and the wall window from the first request
  * start to the last reply since the last [[resetWindow]].
  */
class FakeStats {
  val requests = new LongAdder
  val bytesIn = new LongAdder
  val bytesOut = new LongAdder
  val busyNs = new LongAdder
  private val first = new AtomicLong(Long.MaxValue)
  private val last = new AtomicLong(0L)

  def record(startNs: Long, endNs: Long, in: Long, out: Long): Unit = {
    requests.increment(); bytesIn.add(in); bytesOut.add(out); busyNs.add(endNs - startNs)
    Layer.busy(startNs, endNs)
    first.accumulateAndGet(startNs, math.min)
    last.accumulateAndGet(endNs, math.max)
  }

  def resetWindow(): Unit = { first.set(Long.MaxValue); last.set(0L) }

  /** First request start to last reply, in ns; 0 when nothing was served. */
  def windowNs: Long = { val f = first.get; val l = last.get; if (l > f) l - f else 0L }
}

/** A JDK `HttpServer` on an ephemeral loopback port, served by a fixed
  * pool of at most `threads` threads. Subclasses answer one request
  * at a time from `(method, path, body)`.
  */
abstract class HttpFake(threads: Int) {
  val stats = new FakeStats
  private val pool = Executors.newFixedThreadPool(math.max(1, threads))
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => serve(ex))

  protected def handle(method: String, path: String, body: Array[Byte]): (Int, Array[Byte])

  def start(): Int = { server.start(); server.getAddress.getPort }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    val (code, out) =
      try handle(ex.getRequestMethod, ex.getRequestURI.getPath, body)
      catch {
        case e: Exception => (500, s"fake error: ${e.getMessage}".getBytes("UTF-8"))
      }
    ex.sendResponseHeaders(code, if (out.isEmpty) -1 else out.length.toLong)
    if (out.nonEmpty) ex.getResponseBody.write(out)
    ex.close()
    stats.record(t0, System.nanoTime(), body.length.toLong, out.length.toLong)
  }
}
