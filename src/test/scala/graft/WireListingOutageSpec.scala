package graft

import scala.collection.mutable

import graft.sinks.{ChHttpBatchExecutor, ChHttpClient}
import graft.sources.{EsRestClient, EsSourceConfig}
import graft.sync.WireSync

/** The ES deployment loop re-lists its indices every pass, so the
  * listing is one more request an outage can hit. A failed
  * `/_cat/indices` must cost one pass, not the loop: the pass is a
  * single `Left` named by the index pattern, touches the target not at
  * all, and the next pass resumes incrementally from the intact
  * watermark.
  */
class WireListingOutageSpec extends SparkSpec {

  private def doc(id: Int): String =
    f"""{"id":$id,"created_at":"2024-01-$id%02d 00:00:00","msg":"m$id"}"""

  test("ES loop: an outage on the index listing fails one pass as a Left; the loop resumes incrementally") {
    val es = new EsStub(
      indices = Map("app_logs" -> (1 to 7).map(doc)),
      mappings = Map("app_logs" ->
        """{"id":{"type":"long"},"created_at":{"type":"date"},"msg":{"type":"keyword"}}"""))
    val ch = new ChStub
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port", "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "3"))
      // retrySleep injected so exhausting the 503 retries doesn't wall-wait
      val client = new EsRestClient(cfg.host, maxRetries = 1, retrySleep = _ => ())
      val ep = ch.endpoint
      val targetRequestsAfter = mutable.Map[Int, Int]()
      val passes = WireSync.runContinuous(
        spark, client, cfg, new ChHttpClient(ep), () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", maxPasses = 3, insertBatchSize = 4,
        onPassEnd = (p, _) => {
          targetRequestsAfter(p) = ch.requests.synchronized(ch.requests.size)
          if (p == 1) {
            // a doc lands, then the listing of pass 2 meets an outage:
            // two 503s exhaust maxRetries = 1
            es.addDoc("app_logs", "8", doc(8))
            es.failures ++= Seq(("/_cat/indices", 503, ""), ("/_cat/indices", 503, ""))
          }
        })

      assert(passes.size == 3, passes.toString)
      def ok(p: Int) = passes(p - 1).head.toOption.get
      assert(ok(1).mode == "full" && ok(1).rows == 7L, passes(0).toString)
      // pass 2: one Left for the pattern, and no request reached the
      // target — no data written, no state appended
      assert(passes(1).size == 1 && passes(1).head.isLeft, passes(1).toString)
      val (name, error) = passes(1).head.swap.toOption.get
      assert(name == "app_*" && error.contains("HTTP 503"), error)
      assert(targetRequestsAfter(2) == targetRequestsAfter(1), "the failed pass must not touch the target")
      assert(es.failures.isEmpty)
      // pass 3: incremental from the pass-1 watermark picks up doc 8
      assert(ok(3).mode == "incremental" && ok(3).rows == 1L, passes(2).toString)
      assert(ch.tables(("wh", "app_logs")).rows.size == 8)
      val st = ch.tables(("wh", "_sync_state"))
      assert(st.rows.map(_(st.schema.indexWhere(_._1 == "last_sync_time"))) ==
        Seq("2024-01-07 00:00:00", "2024-01-08 00:00:00"), st.rows.toString)
    } finally { es.stop(); ch.stop() }
  }
}
