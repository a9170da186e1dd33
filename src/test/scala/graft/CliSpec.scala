package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.ClickHouseDdl
import graft.sources.Catalog
import graft.sync.{Alerts, Health, SyncCli, SyncRunner}

/** The deployment surface: CLI flag parsing + mode dispatch
  * (es_to_bytehouse.py:1210-1269), connect-time health probes with
  * bounded retry (es_to_bytehouse.py:200-238), and the fresh-target
  * DDL bootstrap (es_to_bytehouse.py:401-427).
  */
class CliSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  // ---- DDL bootstrap -------------------------------------------------

  test("createDatabaseSql / bootstrapSql: database first, then sync-state table") {
    assert(ClickHouseDdl.createDatabaseSql("es_migration") ==
      "CREATE DATABASE IF NOT EXISTS `es_migration`")
    val boot = ClickHouseDdl.bootstrapSql("es_migration")
    assert(boot.size == 2)
    assert(boot.head == "CREATE DATABASE IF NOT EXISTS `es_migration`")
    assert(boot(1) == ClickHouseDdl.syncStateTableSql("es_migration"))
    // sanitization applies to the db identifier too
    assert(ClickHouseDdl.createDatabaseSql("my-db").contains("`my_db`"))
  }

  // ---- arg parsing ---------------------------------------------------

  test("parse: defaults, every mode, short flags, index overrides pattern") {
    val base = Array("--src", "/s", "--target", "/t", "--state", "/st")
    val c = SyncCli.parse(base, env = Map.empty)
    assert(c.mode == "incremental" && c.pattern == "*" && !c.listOnly)
    for (m <- Seq("full", "incremental", "continuous", "auto"))
      assert(SyncCli.parse(base ++ Array("--mode", m), Map.empty).mode == m)
    val short = SyncCli.parse(
      base ++ Array("-m", "continuous", "-p", "logs-*", "--interval", "5", "--passes", "3"),
      Map.empty)
    assert(short.mode == "continuous" && short.pattern == "logs-*")
    assert(short.intervalSec == 5 && short.maxPasses == 3)
    val withIndex = SyncCli.parse(base ++ Array("-p", "logs-*", "-i", "events"), Map.empty)
    assert(withIndex.effectivePattern == "events")
  }

  test("parse: env fallback for dirs; list-only needs no target/state; errors are loud") {
    val env = Map("GRAFT_SRC" -> "/envsrc", "GRAFT_TARGET" -> "/envt", "GRAFT_STATE" -> "/envst")
    val c = SyncCli.parse(Array("--mode", "auto"), env)
    assert(c.srcDir == "/envsrc" && c.targetRoot == "/envt" && c.stateDir == "/envst")
    // explicit flag wins over env
    assert(SyncCli.parse(Array("--src", "/flag"), env).srcDir == "/flag")
    val listOnly = SyncCli.parse(Array("--src", "/s", "--list-only"), Map.empty)
    assert(listOnly.listOnly)
    intercept[IllegalArgumentException](SyncCli.parse(Array.empty[String], Map.empty))
    intercept[IllegalArgumentException](SyncCli.parse(Array("--src", "/s"), Map.empty))
    intercept[IllegalArgumentException](
      SyncCli.parse(Array("--src", "/s", "--target", "/t", "--state", "/st", "--mode", "bogus"), Map.empty))
    intercept[IllegalArgumentException](
      SyncCli.parse(Array("--src", "/s", "--target", "/t", "--state", "/st", "--wat"), Map.empty))
    intercept[IllegalArgumentException](
      SyncCli.parse(Array("--src", "/s", "--target", "/t", "--state", "/st", "--passes", "0"), Map.empty))
  }

  // ---- mode dispatch -------------------------------------------------

  test("run: list-only lists matching tables and syncs nothing") {
    var listed = Seq.empty[String]
    val c = SyncCli.Config(listOnly = true, pattern = "nation", srcDir = sf)
    val r = SyncCli.run(spark, c, onList = listed = _)
    assert(r.isEmpty && listed == Seq("nation"))
  }

  test("run: incremental mode does first-pass full then picks up only the delta; full mode re-fulls") {
    val target = tmp("graft_cli_target")
    val state = tmp("graft_cli_state") + "/state"
    val c = SyncCli.Config(
      mode = "incremental", pattern = "events",
      srcDir = sf, targetRoot = target, stateDir = state)
    val r1 = SyncCli.run(spark, c, nowUsForPass = _ => 1L)
    assert(r1.head("events")._1 == "full")
    val n = r1.head("events")._2
    assert(n == Catalog.load(spark, sf, "events").count())
    // second incremental pass: source unchanged, zero-row delta
    val r2 = SyncCli.run(spark, c, nowUsForPass = _ => 2L)
    assert(r2.head("events") == ("incremental", 0L))
    // explicit full mode forces a re-migration despite existing state
    val r3 = SyncCli.run(spark, c.copy(mode = "full"), nowUsForPass = _ => 3L)
    assert(r3.head("events") == ("full", n))
    assert(spark.read.parquet(s"$target/events").count() == n)
  }

  test("run: continuous mode executes the requested passes with a healthy preflight") {
    val target = tmp("graft_cli_cont")
    val state = tmp("graft_cli_cont_state") + "/state"
    val c = SyncCli.Config(
      mode = "continuous", pattern = "events",
      srcDir = sf, targetRoot = target, stateDir = state,
      intervalSec = 0, maxPasses = 2)
    val r = SyncCli.run(spark, c, nowUsForPass = _.toLong)
    assert(r.size == 2)
    assert(r(0)("events")._1 == "full" && r(1)("events") == ("incremental", 0L))
  }

  // ---- health probes + retry -----------------------------------------

  test("withRetry: transient failures are retried with backoff and warn alerts; then succeeds") {
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val alerter = new Alerts.Alerter(sent += _, minIntervalMs = 0L, clock = () => 0L)
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val got = Health.withRetry("probe", maxAttempts = 3, backoffMs = 10L,
      alerter = Some(alerter), sleep = slept += _) {
      calls += 1
      if (calls < 3) throw new java.sql.SQLException(s"connect refused #$calls")
      42
    }
    assert(got == 42 && calls == 3)
    assert(slept.toSeq == Seq(10L, 20L)) // exponential
    assert(sent.size == 2 && sent.forall(_.contains("WARNING")))
  }

  test("withRetry: exhausted attempts alert at ERROR and rethrow") {
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val alerter = new Alerts.Alerter(sent += _, minIntervalMs = 0L, clock = () => 0L)
    val e = intercept[java.sql.SQLException] {
      Health.withRetry("probe", maxAttempts = 2, backoffMs = 1L,
        alerter = Some(alerter), sleep = _ => ()) {
        throw new java.sql.SQLException("still down")
      }
    }
    assert(e.getMessage == "still down")
    assert(sent.count(_.contains("ERROR")) == 1)
  }

  test("continuous sync completes although the first connection attempts fail (Derby), alerting each retry") {
    val target = tmp("graft_cli_flaky")
    val state = tmp("graft_cli_flaky_state") + "/state"
    val url = s"jdbc:derby:memory:flaky${System.nanoTime()};create=true"
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val alerter = new Alerts.Alerter(sent += _, minIntervalMs = 0L, clock = () => 0L)
    var attempts = 0
    // first two connect attempts die before reaching Derby — the shape
    // of a target still starting up — then the real probe succeeds
    val flakyProbe = () => {
      attempts += 1
      if (attempts <= 2) throw new java.sql.SQLException(s"connection reset #$attempts")
      java.sql.DriverManager.getConnection(url).close()
    }
    val r = SyncRunner.runContinuous(
      spark, sf, "events", target, state, maxPasses = 2,
      alerter = Some(alerter), preflight = Some(flakyProbe), preflightBackoffMs = 1L)
    assert(r.size == 2)
    assert(r(0)("events")._1 == "full" && r(1)("events") == ("incremental", 0L))
    assert(attempts == 4) // 3 on pass 1 (2 failures + success), 1 on pass 2
    assert(sent.count(_.contains("WARNING")) == 2 && !sent.exists(_.contains("ERROR")))
  }
}
