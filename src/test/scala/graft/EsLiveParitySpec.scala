package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.TypeMapper
import graft.sinks.ClickHouseDdl
import graft.sources.{EsRestClient, EsSourceConfig, JsonIngest}

/** A29c: live ES-protocol parity — the reference's full flow
  * (es_to_bytehouse.py: discover `_cat/indices` → `_mapping` →
  * scroll full sync → incremental range scroll) running over REAL
  * HTTP against the ES-speaking stub, the same move as the
  * live-Derby JDBC spec (A29b). The request the client puts on the
  * wire is asserted byte-for-byte against the EsSourceConfig
  * contract strings, and the scroll protocol (open → continue →
  * DELETE cleanup) is asserted from the stub's request log.
  */
class EsLiveParitySpec extends SparkSpec {

  private def doc(id: Long, day: Int, msg: String, agentId: String, updDay: Int): String =
    s"""{"id":$id,"ts":"2024-01-0$day 00:00:00","msg":"$msg","agent":{"id":"$agentId"},""" +
      s""""updated_at":"2024-01-0$updDay 00:00:00"}"""

  private val logsA = Seq(
    doc(1, 1, "boot", "a1", 1), doc(2, 2, "ok", "a1", 2), doc(3, 3, "ok", "a2", 3),
    doc(4, 4, "warn", "a2", 4), doc(5, 5, "ok", "a3", 5), doc(6, 6, "err", "a3", 9),
    doc(7, 7, "ok", "a4", 7))
  private val logsB = Seq(doc(10, 1, "b", "b1", 1), doc(11, 2, "b", "b1", 2), doc(12, 3, "b", "b2", 3))

  private val mappingA =
    """{"id":{"type":"long"},"ts":{"type":"date"},"msg":{"type":"keyword"},""" +
      """"agent":{"properties":{"id":{"type":"keyword"}}},"updated_at":{"type":"date"}}"""

  private def withStub(f: (EsStub, EsRestClient, EsSourceConfig) => Unit): Unit = {
    val stub = new EsStub(
      indices = Map("logs_a" -> logsA, "logs_b" -> logsB, ".internal" -> Seq("""{"x":1}""")),
      mappings = Map("logs_a" -> mappingA))
    val port = stub.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port",
        "INDEX_PATTERN" -> "logs_*",
        "SCROLL_SIZE" -> "3"))
      f(stub, new EsRestClient(cfg.host, cfg.user, cfg.password), cfg)
    } finally stub.stop()
  }

  test("discovery: pattern glob resolves server-side, system indices filtered like the reference") {
    withStub { (_, client, cfg) =>
      assert(client.catIndices(cfg.indexPattern) == Seq("logs_a", "logs_b"))
      // the wildcard sweep sees the system index on the wire but
      // filters it client-side (ref es_to_bytehouse.py:249-253)
      assert(client.catIndices("*") == Seq("logs_a", "logs_b"))
    }
  }

  test("mapping: nested properties flatten to sanitized field names; DDL generates from it") {
    withStub { (_, client, _) =>
      val fields = client.mappingFields("logs_a")
      assert(fields == Map(
        "id" -> "long", "ts" -> "date", "msg" -> "keyword",
        "agent_id" -> "keyword", "updated_at" -> "date"), fields.toString)
      // mapping → Spark types → ClickHouse DDL, the reference's
      // generate_create_table_sql pendant on real types
      val schema = StructType(fields.toSeq.sortBy(_._1).map { case (n, t) =>
        StructField(n, TypeMapper.esType(t))
      })
      val ddl = ClickHouseDdl.createTableSql("tgt", "logs_a", schema)
      assert(ddl.contains("`id` Nullable(Int64)"), ddl)
      assert(ddl.contains("`ts` Nullable(DateTime64(6))"), ddl)
      assert(ddl.contains("`agent_id` Nullable(String)"), ddl)
    }
  }

  test("full sync: scroll pages stream, flattened rows land, scroll is cleaned up") {
    withStub { (stub, client, cfg) =>
      val docs = scala.collection.mutable.ArrayBuffer[(String, String)]()
      client.scrollPages("logs_a", EsSourceConfig.fullSearchBody(cfg.scrollSize), cfg.scrollTimeout)(docs ++= _)
      val raw = EsRestClient.docFrame(spark, docs.toSeq)
      assert(raw.count() == 7L)
      val flat = JsonIngest.parseAndFlatten(spark, raw, "doc")
      val row = flat.filter(col("doc_id") === "6").collect()(0)
      assert(row.getAs[String]("doc_msg") == "err")
      assert(row.getAs[String]("doc_agent_id") == "a3")
      // protocol shape: one scroll open at SCROLL_SIZE=3, >=2
      // continuations (7 docs = pages 3/3/1 + the empty page that
      // ends the loop), exactly one DELETE cleanup
      val reqs = stub.requests.toSeq
      assert(reqs.count(r => r._1 == "POST" && r._2 == "/logs_a/_search?scroll=5m") == 1, reqs)
      assert(reqs.count(r => r._1 == "POST" && r._2 == "/_search/scroll") >= 2, reqs)
      assert(reqs.count(r => r._1 == "DELETE" && r._2 == "/_search/scroll") == 1, reqs)
      // and the open body is the byte-exact contract string
      val openBody = reqs.find(r => r._2 == "/logs_a/_search?scroll=5m").get._3
      assert(openBody == EsSourceConfig.fullSearchBody(3), openBody)
    }
  }

  test("incremental sync: range DSL on the wire byte-exact, rows filtered + time-sorted server-side") {
    withStub { (stub, client, _) =>
      val body = EsSourceConfig.incrementalSearchBody(3, "ts", "2024-01-04 00:00:00")
      val got = scala.collection.mutable.ArrayBuffer[String]()
      val n = client.scrollPages("logs_a", body)(page => got ++= page.map(_._2))
      assert(n == 3L) // ids 5,6,7 have ts > 01-04
      val ts = got.map(j => j.split("\"ts\":\"")(1).take(19))
      assert(ts.toSeq == ts.toSeq.sorted, s"not time-ascending: $ts") // ref sorts asc for monotone watermark
      assert(ts.last == "2024-01-07 00:00:00") // the advanced watermark
      val openBody = stub.requests.find(r => r._2 == "/logs_a/_search?scroll=5m").get._3
      assert(openBody == body, openBody)
      assert(openBody.contains(""""sort":[{"ts":"asc"}]"""), openBody)
    }
  }

  test("PIT full sync: search_after pages stream in (ts,_shard_doc) order; wire bodies byte-exact; PIT closed") {
    withStub { (stub, client, _) =>
      val pages = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      val n = client.pitSearchAfterPages("logs_a", """{"match_all":{}}""", size = 3, sortField = "ts")(
        p => pages += p.map(_._1))
      assert(n == 7L)
      // deterministic total order: pages 3/3/1, ids in ts order
      assert(pages.toSeq == Seq(Seq("1", "2", "3"), Seq("4", "5", "6"), Seq("7")), pages.toString)
      val reqs = stub.requests.toSeq
      // protocol shape: one PIT open, search_after pagination over
      // POST /_search (NO index in the path), one DELETE cleanup;
      // the short final page ends the loop without an empty fetch
      assert(reqs.count(r => r._1 == "POST" && r._2 == "/logs_a/_pit?keep_alive=5m") == 1, reqs)
      assert(reqs.count(r => r._1 == "POST" && r._2 == "/_search") == 3, reqs)
      assert(reqs.count(r => r._1 == "DELETE" && r._2 == "/_pit") == 1, reqs)
      // byte-exact contract: page-1 body has no cursor, page-2 carries
      // page-1's last sort values verbatim
      val bodies = reqs.filter(r => r._1 == "POST" && r._2 == "/_search").map(_._3)
      assert(bodies(0) == graft.sources.EsSourceConfig.pitSearchBody(
        3, """{"match_all":{}}""", "pit-1", "5m", "ts"), bodies(0))
      assert(bodies(1) == graft.sources.EsSourceConfig.pitSearchBody(
        3, """{"match_all":{}}""", "pit-1", "5m", "ts", """["2024-01-03 00:00:00",3]"""), bodies(1))
      assert(reqs.find(r => r._1 == "DELETE" && r._2 == "/_pit").get._3 == """{"id":"pit-1"}""")
    }
  }

  test("PIT incremental: range DSL rides the pit body; snapshot isolation hides a mid-pagination insert") {
    withStub { (stub, client, _) =>
      val query = graft.sources.EsSourceConfig.incrementalQuery("ts", "2024-01-02 00:00:00")
      val ids = scala.collection.mutable.ArrayBuffer[String]()
      var inserted = false
      val n = client.pitSearchAfterPages("logs_a", query, size = 2, sortField = "ts") { page =>
        ids ++= page.map(_._1)
        // a doc lands AFTER page one — inside the PIT's lifetime,
        // matching the range filter, invisible by the PIT guarantee
        if (!inserted) {
          stub.addDoc("logs_a", "8", doc(8, 8, "late", "a9", 8))
          inserted = true
        }
      }
      assert(n == 5L)
      assert(ids.toSeq == Seq("3", "4", "5", "6", "7"), ids.toString)
      // a FRESH pit opened after the insert sees the new doc
      val ids2 = scala.collection.mutable.ArrayBuffer[String]()
      client.pitSearchAfterPages("logs_a", query, size = 10, sortField = "ts")(p => ids2 ++= p.map(_._1))
      assert(ids2.toSeq == Seq("3", "4", "5", "6", "7", "8"), ids2.toString)
    }
  }

  test("incremental insert-or-update: dual-watermark should-query matches EITHER range") {
    withStub { (_, client, _) =>
      // ts > 01-05 catches ids 6,7; updated_at > 01-08 catches id 6
      // again (updated later) — the OR must return {6,7} exactly once each
      val body = EsSourceConfig.incrementalSearchBody(
        3, "ts", "2024-01-05 00:00:00", "updated_at", "2024-01-08 00:00:00")
      val ids = scala.collection.mutable.ArrayBuffer[String]()
      client.scrollPages("logs_a", body)(page => ids ++= page.map(_._1))
      assert(ids.toSet == Set("6", "7"), ids.toString)
      // and a should-query where ONLY the update watermark fires
      val bodyUpd = EsSourceConfig.incrementalSearchBody(
        3, "ts", "2024-01-07 00:00:00", "updated_at", "2024-01-08 00:00:00")
      val ids2 = scala.collection.mutable.ArrayBuffer[String]()
      client.scrollPages("logs_a", bodyUpd)(page => ids2 ++= page.map(_._1))
      assert(ids2.toSet == Set("6"), ids2.toString)
    }
  }
}
