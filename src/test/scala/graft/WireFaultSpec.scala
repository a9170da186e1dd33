package graft

import java.io.{BufferedReader, IOException, InputStreamReader}
import java.net.{InetAddress, ServerSocket, Socket}
import java.net.http.HttpTimeoutException
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import graft.sinks.{ChHttpBatchExecutor, ChHttpClient}
import graft.sources.{EsRestClient, EsSourceConfig, MongoSource}
import graft.sync.WireSync

/** Fault injection on the three wire clients (VERDICT r10 item 4):
  * the reference's operational surface is retry/fallback, not just
  * happy paths. Each fault asserts RECOVERY SEMANTICS — what retries,
  * what aborts, and that sync state is never corrupted (a failed pass
  * leaves the watermark where the next pass resumes cleanly).
  */
class WireFaultSpec extends SparkSpec {

  private def doc(id: Long, day: Int, msg: String): String =
    s"""{"id":$id,"created_at":"2024-01-0$day 00:00:00","msg":"$msg",""" +
      s""""updated_at":"2024-01-0$day 00:00:00"}"""

  private val seedDocs = (1 to 7).map(i => doc(i.toLong, i, s"m$i"))
  private val mapping =
    """{"id":{"type":"long"},"created_at":{"type":"date"},"msg":{"type":"keyword"},""" +
      """"updated_at":{"type":"date"}}"""

  private def withEs(f: (EsStub, String) => Unit): Unit = {
    val stub = new EsStub(Map("app_logs" -> seedDocs), Map("app_logs" -> mapping))
    val port = stub.start()
    try f(stub, s"http://127.0.0.1:$port") finally stub.stop()
  }

  // ---------------------------------------------------------------- ES

  test("ES 429/503: retry honors Retry-After, pagination completes; other statuses fail fast") {
    withEs { (stub, host) =>
      val sleeps = mutable.ArrayBuffer[Long]()
      val client = new EsRestClient(host, retrySleep = sleeps += _)
      // throttle the scroll open (Retry-After: 2), then a bare 503 on
      // the first continuation (exponential backoff path)
      stub.failures += (("/_search", 429, "2"))
      val got = mutable.ArrayBuffer[String]()
      val n1 = client.scrollPages("app_logs", EsSourceConfig.fullSearchBody(3))(p => got ++= p.map(_._1))
      assert(n1 == 7L && got.size == 7)
      assert(sleeps.toSeq == Seq(2000L), sleeps.toString) // header wins over backoff
      sleeps.clear()
      stub.failures += (("/_search/scroll", 503, ""))
      val n2 = client.scrollPages("app_logs", EsSourceConfig.fullSearchBody(3))(_ => ())
      assert(n2 == 7L)
      assert(sleeps.toSeq == Seq(200L), sleeps.toString) // backoff, attempt 1
      // a 400 is NOT transient: no retry, no sleep
      sleeps.clear()
      stub.failures += (("/_cat/indices", 400, ""))
      val e = intercept[IllegalArgumentException](client.catIndices("app_*"))
      assert(e.getMessage.contains("HTTP 400") && sleeps.isEmpty, e.getMessage)
    }
  }

  test("ES retries exhausted: the pass aborts with the status; retry count bounded") {
    withEs { (stub, host) =>
      val sleeps = mutable.ArrayBuffer[Long]()
      val client = new EsRestClient(host, maxRetries = 2, retrySleep = sleeps += _)
      // persistent outage: initial + 2 retries, all 503
      stub.failures ++= Seq.fill(3)(("/_search", 503, ""))
      val e = intercept[IllegalArgumentException](
        client.scrollPages("app_logs", EsSourceConfig.fullSearchBody(3))(_ => ()))
      assert(e.getMessage.contains("HTTP 503") && e.getMessage.contains("after 2 retries"), e.getMessage)
      assert(sleeps.size == 2, sleeps.toString)
      assert(stub.failures.isEmpty, "all injected failures must have been consumed")
    }
  }

  test("ES scroll expiry mid-pagination: original 404 propagates, cleanup failure is swallowed") {
    withEs { (stub, host) =>
      val client = new EsRestClient(host, retrySleep = _ => ())
      var pages = 0
      val e = intercept[IllegalArgumentException] {
        client.scrollPages("app_logs", EsSourceConfig.fullSearchBody(3)) { _ =>
          pages += 1
          if (pages == 1) stub.expireScrolls() // server lost the cursor
        }
      }
      assert(e.getMessage.contains("HTTP 404") && e.getMessage.contains("scroll not found"), e.getMessage)
      assert(pages == 1, "pagination must stop at the expiry, not deliver stale pages")
    }
  }

  test("ES PIT expiry mid-pagination: original 404 propagates even when closePit also fails") {
    withEs { (stub, host) =>
      val client = new EsRestClient(host, retrySleep = _ => ())
      var pages = 0
      val e = intercept[IllegalArgumentException] {
        client.pitSearchAfterPages("app_logs", """{"match_all":{}}""", size = 3, sortField = "created_at") { _ =>
          pages += 1
          if (pages == 1) {
            stub.expirePits()
            stub.failures += (("/_pit", 500, "")) // the cleanup DELETE will fail too
          }
        }
      }
      // the secondary closePit failure must not replace the real error
      assert(e.getMessage.contains("pit not found"), e.getMessage)
      assert(pages == 1)
    }
  }

  /** `catIndices` against a loopback node that runs `answer` on its one
    * connection, through a client with a 300 ms read timeout. The
    * spec's own wait is bounded: a client that blocks fails here in
    * seconds instead of hanging the suite.
    */
  private def esCallAgainst(answer: Socket => Unit): Try[Seq[String]] = {
    val node = new ServerSocket(0, 8, InetAddress.getLoopbackAddress)
    val conns = new ConcurrentLinkedQueue[Socket]()
    val server = new Thread(() =>
      try { val s = node.accept(); conns.add(s); answer(s) } catch { case _: IOException => () })
    server.setDaemon(true)
    server.start()
    try {
      val client = new EsRestClient(s"http://127.0.0.1:${node.getLocalPort}", "", "", 3, _ => (),
        java.time.Duration.ofMillis(300))
      Await.result(Future(Try(client.catIndices("app_*")))(ExecutionContext.global), 30.seconds)
    } finally { node.close(); conns.forEach(_.close()) }
  }

  test("ES node that accepts a connection and never answers: the request times out instead of hanging") {
    val got = esCallAgainst(_ => ()) // the connection stays open; no byte ever comes back
    assert(got.failed.toOption.exists(_.isInstanceOf[HttpTimeoutException]), got.toString)
  }

  test("ES node that sends headers and then stalls mid-body: the request times out instead of hanging") {
    val got = esCallAgainst { s =>
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.US_ASCII))
      while (Option(in.readLine()).exists(_.nonEmpty)) {} // the request head
      val out = s.getOutputStream
      // 2 of the 100 promised body bytes, then silence
      out.write("HTTP/1.1 200 OK\r\nContent-Type: application/json\r\nContent-Length: 100\r\n\r\n[{"
        .getBytes(StandardCharsets.US_ASCII))
      out.flush()
    }
    assert(got.failed.toOption.exists(_.isInstanceOf[HttpTimeoutException]), got.toString)
  }

  test("composed: a mid-pagination outage aborts the WireSync pass with NO state advance; next pass resumes") {
    withEs { (stub, host) =>
      val ch = new ChStub
      ch.start()
      try {
        val cfg = EsSourceConfig.fromEnv(Map(
          "ES_HOST" -> host, "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "3"))
        val client = new EsRestClient(host, maxRetries = 1, retrySleep = _ => ())
        val ep = ch.endpoint
        def pass() = WireSync.run(spark, client, cfg, new ChHttpClient(ep),
          () => new ChHttpBatchExecutor(ep), targetDb = "wh", insertBatchSize = 100)
        // persistent 503 on scroll CONTINUATION: page 1 streams, then
        // the pass dies before any write or bookkeeping
        stub.failures ++= Seq.fill(2)(("/_search/scroll", 503, ""))
        intercept[IllegalArgumentException](pass())
        assert(!ch.tables.contains(("wh", "app_logs")) ||
          ch.tables(("wh", "app_logs")).rows.isEmpty, "a failed read must not write partial rows")
        assert(ch.tables(("wh", "_sync_state")).rows.isEmpty, "a failed pass must not advance state")
        // outage over: the SAME call recovers with a clean full sync
        val r = pass()
        assert(r.map(p => (p.mode, p.rows, p.failedRows)) == Seq(("full", 7L, 0L)), r.toString)
        assert(ch.tables(("wh", "app_logs")).rows.size == 7)
        assert(ch.tables(("wh", "_sync_state")).rows.size == 1)
      } finally ch.stop()
    }
  }

  // ---------------------------------------------------------- ClickHouse

  test("CH transient failure mid-batch: per-row fallback lands every row once service resumes") {
    val ch = new ChStub
    ch.start()
    try {
      import spark.implicits._
      val tgt = new ChHttpClient(ch.endpoint)
      tgt.execute(graft.sinks.ClickHouseDdl.createDatabaseSql("wh"))
      tgt.execute("CREATE TABLE IF NOT EXISTS `wh`.`t` (`id` Nullable(String), `v` Nullable(String)) ENGINE = MergeTree() ORDER BY tuple()")
      val df = (1 to 10).map(i => (i.toString, s"v$i")).toDF("id", "v").coalesce(1)
      ch.failNextInserts = 1 // the batch POST dies; singles succeed
      val ep = ch.endpoint
      val stats = graft.sinks.BatchedUpsertWriter.write(df, "wh", "t", 100, () => new ChHttpBatchExecutor(ep))
      assert(stats.rows == 10L && stats.fallbackRows == 10L && stats.failedRows == 0L, stats.toString)
      assert(ch.tables(("wh", "t")).rows.size == 10)
    } finally ch.stop()
  }

  // --------------------------------------------------------------- Mongo

  test("Mongo cursor-not-found on getMore: the read aborts cleanly; a fresh read from the watermark succeeds") {
    val stub = new MongoStub
    val docs = (1 to 9).map { i =>
      ListMap[String, Any]("_id" -> graft.sources.Bson.Oid(f"$i%024x"), "v" -> s"d$i")
    }
    stub.seed("shop", "items", docs)
    val (host, port) = stub.start()
    try {
      // happy path first: 9 docs over 3 getMore batches
      val full = MongoSource.read(spark, host, port, "shop", "items", batchSize = 3)
      assert(full.count() == 9L)
      // server drops the cursor between find and getMore
      stub.dropCursorsOnGetMore = true
      val e = intercept[java.io.IOException](
        MongoSource.read(spark, host, port, "shop", "items", batchSize = 3))
      assert(e.getMessage.contains("not found"), e.getMessage)
      // no state was corrupted: the caller's watermark is untouched, so
      // the retry re-reads the same span — incremental from id 3 works
      val retry = MongoSource.read(spark, host, port, "shop", "items", batchSize = 3,
        afterId = Some(f"${3}%024x"))
      assert(retry.count() == 6L)
    } finally stub.stop()
  }
}
