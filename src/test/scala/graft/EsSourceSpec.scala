package graft

import org.apache.spark.sql.functions._

import graft.sources.{Catalog, EsSourceConfig}
import graft.sync.SyncRunner

/** The ES configuration surface without a cluster: `fromEnv` must map
  * the reference's env config, and the query DSL must match its search
  * bodies byte-for-byte (the bodies `EsRestClient` sends; the
  * stub-backed wire suites drive them end to end). `autoSyncTables`
  * takes any table-name → DataFrame thunk as its source.
  */
class EsSourceSpec extends SparkSpec {

  test("fromEnv maps the reference's environment variables") {
    val cfg = EsSourceConfig.fromEnv(Map(
      "ES_HOST" -> "https://es.internal:9243",
      "ES_USER" -> "sync",
      "ES_PASSWORD" -> "s3cret",
      "INDEX_PATTERN" -> "logs-*,metrics-*",
      "SCROLL_SIZE" -> "5000",
      "SCROLL_TIMEOUT" -> "10m"
    ))
    assert(cfg == EsSourceConfig("https://es.internal:9243", "sync", "s3cret",
      "logs-*,metrics-*", 5000, "10m"))
    // defaults mirror the reference's os.getenv fallbacks
    val dflt = EsSourceConfig.fromEnv(Map.empty)
    assert(dflt.indexPattern == "*" && dflt.scrollSize == 1000 && dflt.scrollTimeout == "5m")
  }

  test("incremental query DSL matches the reference's search bodies") {
    // plain incremental: bool filter over one range (es_to_bytehouse.py:855-861)
    assert(EsSourceConfig.incrementalQuery("@timestamp", "2024-01-24T00:00:00") ==
      """{"bool":{"filter":[{"range":{"@timestamp":{"gt":"2024-01-24T00:00:00"}}}]}}""")
    // insert-or-update: should over both ranges, minimum_should_match 1
    // (es_to_bytehouse.py:843-853)
    assert(EsSourceConfig.incrementalQuery("cTime", "2024-01-24T00:00:00", "updated_at", "2024-02-01T00:00:00") ==
      """{"bool":{"should":[{"range":{"cTime":{"gt":"2024-01-24T00:00:00"}}},""" +
        """{"range":{"updated_at":{"gt":"2024-02-01T00:00:00"}}}],"minimum_should_match":1}}""")
    // full search body with size + ascending time sort (es_to_bytehouse.py:863-868)
    assert(EsSourceConfig.incrementalSearchBody(5000, "@timestamp", "2024-01-24T00:00:00") ==
      """{"size":5000,"query":{"bool":{"filter":[{"range":{"@timestamp":{"gt":"2024-01-24T00:00:00"}}}]}},""" +
        """"sort":[{"@timestamp":"asc"}]}""")
    assert(EsSourceConfig.fullSearchBody(1000) == """{"size":1000,"query":{"match_all":{}}}""")
  }

  test("autoSyncTables: a source thunk makes backends interchangeable") {
    import java.nio.file.Files
    val stateDir = Files.createTempDirectory("graft_es_state").toString + "/state"
    val targetRoot = Files.createTempDirectory("graft_es_target").toString
    // stand-in for an ES reader thunk: any table name -> DataFrame
    val sources = Map(
      "idx_events" -> Catalog.load(spark, sf, "events").limit(50),
      "idx_region" -> Catalog.load(spark, sf, "region")
    )
    val r = SyncRunner.autoSyncTables(
      spark, sources.keys.toSeq.sorted, sources(_), targetRoot, stateDir, nowUs = 1L)
    assert(r("idx_events") == ("full", 50L))
    assert(r("idx_region")._1 == "full")
    assert(spark.read.parquet(s"$targetRoot/idx_events").count() == 50)
    // second pass: time-field table goes incremental, dimension refreshes full
    val r2 = SyncRunner.autoSyncTables(
      spark, sources.keys.toSeq.sorted, sources(_), targetRoot, stateDir, nowUs = 2L)
    assert(r2("idx_events") == ("incremental", 0L))
    assert(r2("idx_region")._1 == "full")
  }
}
