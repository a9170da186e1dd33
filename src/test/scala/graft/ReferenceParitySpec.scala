package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Incremental
import graft.sinks.ClickHouseDdl
import graft.sources.Catalog
import graft.sync.SyncRunner

/** The reference's whole main() flow, end to end, on live components —
  * what a user switching from `es_to_bytehouse.py` actually runs:
  * pattern-discover source tables, generate target DDL, full-sync
  * once, then an incremental pass that picks up BOTH new rows and
  * in-place updates (OR-watermark), with `_sync_state` recording every
  * pass. Derby stands in for the source DB (the ES/CH/Mongo side);
  * parquet is the warehouse target; every piece is the production
  * code path — nothing mocked.
  */
class ReferenceParitySpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("discover -> DDL -> full sync -> update-aware incremental -> state report") {
    // --- source DB with two matching tables and one system table ---
    val url = s"jdbc:derby:memory:refparity${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val allTables = Seq("LOGS_APP", "LOGS_WEB", "SYS_TMP")
    allTables.foreach { t =>
      conn.createStatement().execute(
        s"CREATE TABLE APP.$t (ID BIGINT PRIMARY KEY, CREATED_AT TIMESTAMP, UPDATED_AT TIMESTAMP, PAYLOAD VARCHAR(40))")
    }
    def upsertRow(t: String, id: Long, created: String, updated: String, payload: String): Unit = {
      val del = conn.prepareStatement(s"DELETE FROM APP.$t WHERE ID = ?")
      del.setLong(1, id); del.executeUpdate()
      val ins = conn.prepareStatement(s"INSERT INTO APP.$t VALUES (?, ?, ?, ?)")
      ins.setLong(1, id)
      ins.setTimestamp(2, java.sql.Timestamp.valueOf(created))
      ins.setTimestamp(3, java.sql.Timestamp.valueOf(updated))
      ins.setString(4, payload)
      ins.executeUpdate()
    }
    for (t <- Seq("LOGS_APP", "LOGS_WEB"); i <- 1L to 50L) {
      val d = f"2024-01-${i % 28 + 1}%02d 00:00:00"
      upsertRow(t, i, d, d, s"v$i")
    }

    // --- 1. discovery: the reference's TABLE_PATTERN against the DB catalog ---
    val matched = allTables.map(_.toLowerCase).filter(Catalog.matchesPattern(_, "logs_*")).sorted
    assert(matched == Seq("logs_app", "logs_web"), "system tables must not match the pattern")

    def loadTable(name: String) =
      spark.read.jdbc(url, s"APP.${name.toUpperCase}", new java.util.Properties)

    // --- 2. target DDL from the discovered schema (typed + all-String fidelity) ---
    val ddl = ClickHouseDdl.createTableSql("wh", "logs_app", loadTable("logs_app").schema)
    assert(ddl.contains("CREATE TABLE") && ddl.toLowerCase.contains("id"))
    val ddlRef = ClickHouseDdl.createTableSqlAllString("wh", "logs_app",
      loadTable("logs_app").schema.fieldNames.toIndexedSeq)
    assert(ddlRef.contains("Nullable(String)") && ddlRef.contains("_timestamp"))

    // --- 3. full sync sweep over the matched tables ---
    val stateDir = tmp("refparity_state") + "/state"
    val targetRoot = tmp("refparity_target")
    val r1 = SyncRunner.autoSyncTables(spark, matched, loadTable, targetRoot, stateDir,
      nowUs = 1L, keyOverrides = Map("logs_app" -> Seq("ID"), "logs_web" -> Seq("ID")))
    assert(r1("logs_app") == ("full", 50L) && r1("logs_web") == ("full", 50L))

    // --- 4. source moves on: new rows AND an in-place update ---
    for (i <- 51L to 60L)
      upsertRow("LOGS_APP", i, s"2024-02-0${i % 9 + 1} 00:00:00", s"2024-02-0${i % 9 + 1} 00:00:00", s"v$i")
    upsertRow("LOGS_APP", 7L, "2024-01-08 00:00:00", "2024-03-01 00:00:00", "v7-EDITED")

    val r2 = SyncRunner.autoSyncTables(spark, matched, loadTable, targetRoot, stateDir,
      nowUs = 2L, keyOverrides = Map("logs_app" -> Seq("ID"), "logs_web" -> Seq("ID")))
    assert(r2("logs_app") == ("incremental", 11L),
      s"10 inserts + 1 update must ride the OR-watermark: ${r2("logs_app")}")
    assert(r2("logs_web") == ("incremental", 0L))

    // --- 5. warehouse equals source, latest version per key wins ---
    val target = spark.read.parquet(s"$targetRoot/logs_app")
    assert(target.count() == 60)
    val edited = target.filter(col("ID") === 7L).select("PAYLOAD").collect()(0).getString(0)
    assert(edited == "v7-EDITED", "the in-place update must have replaced the old version")

    // --- 6. the _sync_state report the reference prints on demand ---
    // a 0-row incremental pass does not append state (the watermark
    // did not move), so logs_web's latest row is still its full sync
    val state = SyncRunner.listSyncState(spark, stateDir)
    val rows = state.select("table_name", "mode").collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows == Map("logs_app" -> "incremental", "logs_web" -> "full"))
    conn.close()
  }
}
