package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.Random

import graft.sources.EsSourceConfig
import graft.sync.WireSync

/** The fakes a sync workload talks to, and the engine-side clients
  * pointed at them.
  */
final class SyncEnv(threads: Int) {
  val es = new EsFake(threads)
  val target = new ChFake(threads)
  val chSource = new ChFake(threads)
  val mongo = new MongoFake(threads)
  val esHost = s"http://127.0.0.1:${es.start()}"
  val targetEndpoint = s"http://127.0.0.1:${target.start()}/"
  val chSourceEndpoint = s"http://127.0.0.1:${chSource.start()}/"
  val mongoPort: Int = mongo.start()
  val esClient = new TimedEsClient(esHost)
  val chClient = new TimedChClient(targetEndpoint)
  val esCfg = EsSourceConfig(esHost, indexPattern = "*")
  val executors: () => graft.sinks.BatchedUpsertWriter.BatchExecutor = {
    val ep = targetEndpoint
    () => new TimedBatchExecutor(ep)
  }
  def fakeStats: Seq[FakeStats] = Seq(es.stats, target.stats, chSource.stats, mongo.stats)
  def stop(): Unit = { es.stop(); target.stop(); chSource.stop(); mongo.stop() }
}

/** What a run measured: the per-unit walls and the samples behind the
  * latency metrics, the correctness tally, and per-unit layer values.
  */
final class Outcome {
  val unitMs = mutable.ArrayBuffer[Double]()
  val latencyMs = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  /** One map of layer metric values per measured unit. */
  val layers = mutable.ArrayBuffer[Map[String, Double]]()
  /** Peak old-generation occupancy after GC during each unit. */
  val unitHeapMb = mutable.ArrayBuffer[Double]()
  /** Whether each unit ran with tracing on. */
  val unitTraced = mutable.ArrayBuffer[Boolean]()
}

/** Compares a target table with the rows it must hold. */
object Check {
  def table(ch: ChFake, db: String, table: String, key: String,
      expected: collection.Map[String, Map[String, String]], out: Outcome): Unit = {
    out.attempted += expected.size
    val tb = Option(ch.tables.get((db, table)))
    if (tb.isEmpty) {
      out.failed += expected.size
      System.err.println(s"[check] $db.$table missing: ${expected.size} rows lost")
      return
    }
    val t = tb.get
    val (cols, rows) = t.synchronized((t.schema.map(_._1), t.rows.toVector))
    val ki = cols.indexOf(key)
    val actual = rows.map(r => r(ki) -> r).toMap
    var shown = 0
    def bad(msg: String): Unit = {
      out.failed += 1
      if (shown < 3) { System.err.println(s"[check] $db.$table $msg"); shown += 1 }
    }
    expected.foreach { case (id, want) =>
      actual.get(id) match {
        case None => bad(s"row $id missing")
        case Some(row) =>
          val diff = want.collect {
            case (c, v) if (cols.indexOf(c) match { case -1 => v != null; case i => row(i) != v }) =>
              s"$c: want ${Option(v).getOrElse("NULL")} got ${cols.indexOf(c) match {
                case -1 => "<no column>"; case i => Option(row(i)).getOrElse("NULL") }}"
          }
          if (diff.nonEmpty) bad(s"row $id: ${diff.take(3).mkString("; ")}")
      }
    }
    (actual.keySet -- expected.keySet).foreach { id => out.attempted += 1; bad(s"unexpected row $id") }
  }

  /** The newest watermark the target's `_sync_state` holds for `name`. */
  def watermark(ch: ChFake, db: String, keyCol: String, name: String, col: String,
      want: String, out: Outcome): Unit = {
    out.attempted += 1
    val got = Option(ch.tables.get((db, "_sync_state"))).flatMap { t =>
      t.synchronized {
        val (k, c) = (t.schema.indexWhere(_._1 == keyCol), t.schema.indexWhere(_._1 == col))
        t.rows.filter(_(k) == name).flatMap(r => Option(r(c))).maxOption
      }
    }
    if (!got.contains(want)) {
      out.failed += 1
      System.err.println(s"[check] $db._sync_state $name.$col: want $want got ${got.getOrElse("<none>")}")
    }
  }
}

/** Per-unit layer values for `sync_full`, from counter deltas. */
final class UnitCounters(env: SyncEnv) {
  private var base: Map[String, Double] = Map.empty
  private def now: Map[String, Double] = {
    val l = Layer.snapshot.map { case (k, v) => k -> v.toDouble }
    val s = Main.sparkCounters.snapshot.map { case (k, v) => s"spark_$k" -> v.toDouble }
    val f = Seq("es" -> env.es.stats, "tgt" -> env.target.stats, "chsrc" -> env.chSource.stats,
      "mongo" -> env.mongo.stats).flatMap { case (n, st) =>
      Seq(s"${n}_requests" -> st.requests.sum.toDouble, s"${n}_bytes" -> (st.bytesIn.sum + st.bytesOut.sum).toDouble,
        s"${n}_busy_ns" -> st.busyNs.sum.toDouble)
    }
    l ++ s ++ f ++ Map("chsrc_rows_served" -> env.chSource.rowsServed.sum.toDouble,
      "tgt_insert_bytes" -> env.target.insertBytes.sum.toDouble)
  }
  def start(): Unit = {
    base = now
    Layer.drainCoveredNs()
    env.fakeStats.foreach(_.resetWindow())
  }
  /** Deltas since [[start]], plus the fakes' read windows. */
  def delta(): Map[String, Double] = {
    val n = now
    (n.keySet ++ base.keySet).map(k => k -> (n.getOrElse(k, 0.0) - base.getOrElse(k, 0.0))).toMap ++
      Map("mongo_window_ns" -> env.mongo.stats.windowNs.toDouble,
        "chsrc_window_ns" -> env.chSource.stats.windowNs.toDouble)
  }
}

/** Turns one unit's counter deltas into the per-layer metric values. */
object SyncLayers {
  def apply(d: Map[String, Double], wallNs: Long, coveredNs: Long,
      esRows: Double, chRows: Double, fallback: Double, failedRows: Double, cores: Int): Map[String, Double] = {
    def g(k: String) = d.getOrElse(k, 0.0)
    val ms = 1e-6
    Map(
      "es.read_ms" -> g("es_read_ns") * ms,
      "es.requests" -> g("es_requests"),
      "es.bytes" -> g("es_bytes"),
      "es.docs_per_row_landed" -> (if (esRows > 0) g("es_docs_read") / esRows else 0.0),
      "mongo.read_ms" -> g("mongo_window_ns") * ms,
      "mongo.requests" -> g("mongo_requests"),
      "mongo.bytes" -> g("mongo_bytes"),
      "chsrc.read_ms" -> g("chsrc_window_ns") * ms,
      "chsrc.requests" -> g("chsrc_requests"),
      "chsrc.rows_served_per_row_landed" -> (if (chRows > 0) g("chsrc_rows_served") / chRows else 0.0),
      "write.ms" -> g("write_ns") * ms,
      "write.batches" -> g("write_batches"),
      "write.bytes" -> g("tgt_insert_bytes"),
      "write.requests_per_batch" -> (if (g("write_batches") > 0) g("write_requests") / g("write_batches") else 0.0),
      "write.fallback_rows" -> fallback,
      "write.failed_rows" -> failedRows,
      "ddl.requests_per_pass" -> g("ddl_requests"),
      "ddl.ms" -> g("ddl_ns") * ms,
      "state.ms" -> g("state_ns") * ms,
      "pass.discover_ms" -> g("discover_ns") * ms,
      "pass.spark_jobs" -> g("spark_jobs"),
      "pass.spark_task_ms" -> g("spark_run_ms"),
      "pass.spark_util" -> (if (wallNs > 0) g("spark_run_ms") * 1e6 / (wallNs.toDouble * cores) else 0.0),
      "pass.other_ms" -> math.max(0L, wallNs - coveredNs) * ms,
      "fake.busy_ms" -> (g("es_busy_ns") + g("tgt_busy_ns") + g("chsrc_busy_ns") + g("mongo_busy_ns")) * ms)
  }
}

/** `sync_full`: full auto-mode passes of all three sync variants (two
  * ES indices, one typed ClickHouse table, one Mongo collection) into
  * an empty target, checked row by row after every pass.
  */
final class SyncFull(spark: SparkSession, seed: Long, threads: Int) {
  import SyncFull._

  val env = new SyncEnv(threads)
  private val counters = new UnitCounters(env)
  def close(): Unit = env.stop()

  private var logs: Map[String, Map[String, String]] = Map.empty
  private var orders: Map[String, Map[String, String]] = Map.empty
  private var payments: Map[String, Map[String, String]] = Map.empty
  private var events: Map[String, Map[String, String]] = Map.empty
  private var wm: Map[String, String] = Map.empty
  @volatile private var passDb = ""
  @volatile private var passStart = 0L
  private val landed = mutable.ArrayBuffer[Long]()

  env.target.onInsert = (db, _, _, _) =>
    if (db.startsWith(passDb) && passDb.nonEmpty) { val t = System.nanoTime(); landed.synchronized(landed += t - passStart) }

  /** Drop everything and load the seeded sources. */
  def seedSources(): Unit = {
    env.es.dropAll()
    val r = new Random(seed)
    val t0 = 1767225600000L + r.nextInt(86400) * 1000L // a seeded instant in 2026
    env.es.createIndex(Gen.LogsIndex, Gen.LogsMapping)
    env.es.createIndex(Gen.OrdersIndex, Gen.OrdersMapping)
    val logDocs = (0 until Logs).map(i => Gen.logDoc(r, s"L$i", Gen.isoMs(t0 + i * 7L + r.nextInt(5))))
    logDocs.foreach(d => env.es.put(Gen.LogsIndex, d.id, d.src))
    val orderDocs = (0 until Orders).map { i =>
      val c = t0 + i * 11L
      Gen.orderDoc(r, s"O$i", Gen.isoMs(c), Gen.isoMs(c + r.nextInt(100000)), r.nextInt(3))
    }
    orderDocs.foreach(d => env.es.put(Gen.OrdersIndex, d.id, d.src))
    val pays = (0 until Payments).map(i => Gen.payment(r, i, t0 + i * 13L + r.nextInt(3)))
    env.chSource.dropDatabase(Gen.ChDb)
    env.chSource.seed(Gen.ChDb, Gen.ChTable, Gen.ChSchema, pays.iterator.map(_._1))
    val sec = t0 / 1000
    val mongoDocs = (0 until Events).map(i => Gen.mongoDoc(r, Gen.oid(sec + i / 100, i)))
    env.mongo.seed(Gen.MongoDb, Gen.MongoColl, mongoDocs.iterator.map(_._1))
    logs = logDocs.map(d => d.id -> d.expected).toMap
    orders = orderDocs.map(d => d.id -> d.expected).toMap
    payments = pays.map { case (_, e) => e("id") -> e }.toMap
    events = mongoDocs.map { case (_, e) => e("_id") -> e }.toMap
    wm = Map(
      "logs" -> logDocs.map(_.created).max,
      "orders" -> orderDocs.map(_.created).max, "orders_upd" -> orderDocs.map(_.updated).max,
      "payments" -> pays.map(_._1(1)).max, "events" -> mongoDocs.map(_._2("_id")).max)
  }

  /** One full pass of the three variants into fresh target databases. */
  def pass(k: Int, out: Outcome, record: Boolean): Unit = {
    val db = s"full$k"
    passDb = db
    landed.synchronized(landed.clear())
    counters.start()
    Trace.traceId = s"pass$k"
    passStart = System.nanoTime()
    val (esRes, chRes, moRes) = Trace.span("sync.pass") {
      val e = Trace.span("sync.es")(WireSync.run(spark, env.esClient, env.esCfg, env.chClient, env.executors, s"${db}_es"))
      val c = Trace.span("sync.ch")(WireSync.runCh(spark, env.chSourceEndpoint, Gen.ChDb, env.chClient,
        env.executors, s"${db}_ch"))
      val m = Trace.span("sync.mongo")(WireSync.runMongo(spark, "127.0.0.1", env.mongoPort, Gen.MongoDb,
        Seq(Gen.MongoColl), env.chClient, env.executors, s"${db}_mongo"))
      (e, c, m)
    }
    val wall = System.nanoTime() - passStart
    passDb = ""
    Main.drainListeners()
    val d = counters.delta()
    val covered = Layer.drainCoveredNs()
    val all = esRes ++ chRes ++ moRes
    val rows = all.map(_.rows).sum.toDouble
    // ---- correctness: every row at its value, every watermark ----
    val chk = new Outcome
    Check.table(env.target, s"${db}_es", "web_logs", "_id", logs, chk)
    Check.table(env.target, s"${db}_es", "orders", "_id", orders, chk)
    Check.table(env.target, s"${db}_ch", Gen.ChTable, "id", payments, chk)
    Check.table(env.target, s"${db}_mongo", Gen.MongoColl, "_id", events, chk)
    Check.watermark(env.target, s"${db}_es", "index_name", Gen.LogsIndex, "last_sync_time", wm("logs"), chk)
    Check.watermark(env.target, s"${db}_es", "index_name", Gen.OrdersIndex, "last_sync_time", wm("orders"), chk)
    Check.watermark(env.target, s"${db}_es", "index_name", Gen.OrdersIndex, "last_update_time", wm("orders_upd"), chk)
    Check.watermark(env.target, s"${db}_ch", "table_name", Gen.ChTable, "last_sync_time", wm("payments"), chk)
    Check.watermark(env.target, s"${db}_mongo", "table_name", Gen.MongoColl, "last_sync_time", wm("events"), chk)
    Seq("_es", "_ch", "_mongo").foreach(s => env.target.dropDatabase(db + s))
    out.attempted += chk.attempted
    out.failed += chk.failed
    if (record) {
      out.unitMs += wall / 1e6
      out.latencyMs ++= landed.synchronized(landed.map(_ / 1e6))
      val esRows = esRes.map(_.rows).sum.toDouble
      out.layers += SyncLayers(d, wall, covered, esRows,
        chRes.map(_.rows).sum.toDouble, all.map(_.fallbackRows).sum.toDouble, all.map(_.failedRows).sum.toDouble,
        Main.cores) + ("full_rows_per_s" -> rows / (wall / 1e9))
    }
  }
}

object SyncFull {
  val Logs = 3000
  val Orders = 2000
  val Payments = 2000
  val Events = 2000
}
