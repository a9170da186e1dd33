package graft

import graft.sinks.{ChHttpBatchExecutor, ChHttpClient, ClickHouseDdl}
import graft.sources.{EsRestClient, EsSourceConfig}
import graft.sync.WireSync

/** The reference's actual topology composed end-to-end in ONE flow:
  * ES stub → engine → ClickHouse stub, both live wire protocols at
  * once — `run()` in es_to_bytehouse.py:782-823 (discover → map →
  * DDL → full sync → incremental), previously proven only per-side
  * (EsLiveParitySpec / ChLiveParitySpec). The spec drives
  * [[graft.sync.WireSync]] with [[EsRestClient]] pages in and
  * [[ChHttpBatchExecutor]] upserts out, `_sync_state` written through
  * the CH wire, an in-place update picked up through the dual
  * watermark, and wire bodies asserted byte-exact on BOTH sides.
  */
class WireSyncSpec extends SparkSpec {

  private def doc(id: Long, day: Int, msg: String, agentId: String, updDay: Int): String =
    s"""{"id":$id,"created_at":"2024-01-0$day 00:00:00","msg":"$msg",""" +
      s""""agent":{"id":"$agentId"},"updated_at":"2024-01-0$updDay 00:00:00"}"""

  private val mapping =
    """{"id":{"type":"long"},"created_at":{"type":"date"},"msg":{"type":"keyword"},""" +
      """"agent":{"properties":{"id":{"type":"keyword"}}},"updated_at":{"type":"date"}}"""

  private val seedDocs = (1 to 7).map(i => doc(i.toLong, i, s"m$i", s"a${(i + 1) / 2}", i))

  private def withWire(f: (EsStub, ChStub, EsRestClient, EsSourceConfig, ChHttpClient) => Unit): Unit = {
    val es = new EsStub(
      indices = Map("app_logs" -> seedDocs, ".internal" -> Seq("""{"x":1}""")),
      mappings = Map("app_logs" -> mapping))
    val ch = new ChStub
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port",
        "INDEX_PATTERN" -> "app_*",
        "SCROLL_SIZE" -> "3"))
      f(es, ch, new EsRestClient(cfg.host), cfg, new ChHttpClient(ch.endpoint))
    } finally { es.stop(); ch.stop() }
  }

  test("full sync → dual-watermark incremental → quiescent pass: the es-to-clickhouse job, both wires live") {
    withWire { (es, ch, client, cfg, tgt) =>
      val ep = ch.endpoint
      def pass() = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 4)

      // ---- pass 1: no state → FULL sync --------------------------------
      val r1 = pass()
      assert(r1.map(p => (p.index, p.mode, p.rows, p.failedRows)) == Seq(("app_logs", "full", 7L, 0L)), r1.toString)
      assert(r1.head.timeField == "created_at" && r1.head.updateTimeField == "updated_at", r1.toString)
      // target landed the all-String surface: _id + _timestamp + sorted fields
      val t = ch.tables(("wh", "app_logs"))
      assert(t.schema.map(_._1) ==
        Seq("_id", "_timestamp", "agent_id", "created_at", "id", "msg", "updated_at"), t.schema.toString)
      assert(t.rows.size == 7)
      val d6 = t.rows.find(r => r(t.schema.indexWhere(_._1 == "id")) == "6").get
      assert(d6(t.schema.indexWhere(_._1 == "agent_id")) == "a3", d6.toString) // nested field flattened
      // _sync_state written THROUGH THE WIRE: the reference's bookkeeping row
      val st = ch.tables(("wh", "_sync_state"))
      assert(st.rows.size == 1)
      val row1 = st.rows.head
      def cell(r: Seq[String], c: String) = r(st.schema.indexWhere(_._1 == c))
      assert(cell(row1, "index_name") == "app_logs" && cell(row1, "time_field") == "created_at")
      assert(cell(row1, "last_sync_time") == "2024-01-07 00:00:00", row1.toString)
      assert(cell(row1, "last_update_time") == "2024-01-07 00:00:00", row1.toString)
      assert(cell(row1, "last_sync_count") == "7")
      // ES-side wire bodies byte-exact: discovery, mapping, full-scroll open
      val esReqs = es.requests.toSeq
      assert(esReqs.exists(r => r._1 == "GET" && r._2 == "/_cat/indices/app_*?format=json&h=index,docs.count,store.size"), esReqs.take(3).toString)
      assert(esReqs.exists(r => r._1 == "GET" && r._2 == "/app_logs/_mapping"))
      val open1 = esReqs.find(r => r._2 == "/app_logs/_search?scroll=5m").get._3
      assert(open1 == EsSourceConfig.fullSearchBody(3), open1)
      // CH-side wire: bootstrap DDL, table DDL and INSERT prefixes byte-exact
      val chReqs = ch.requests.toSeq
      assert(chReqs.contains(ClickHouseDdl.createDatabaseSql("wh")), chReqs.take(3).toString)
      assert(chReqs.contains(ClickHouseDdl.syncStateTableSql("wh")))
      assert(chReqs.exists(_.startsWith(ClickHouseDdl.insertSql("wh", "app_logs",
        Seq("_id", "agent_id", "created_at", "id", "msg", "updated_at")))), chReqs.filter(_.startsWith("INSERT")).toString)
      assert(chReqs.exists(_.startsWith(ClickHouseDdl.insertSyncStateSqlEs("wh"))))

      // ---- source moves: one NEW doc + one IN-PLACE update -------------
      es.addDoc("app_logs", "8", doc(8, 8, "m8", "a4", 8))
      es.updateDoc("app_logs", "2", doc(2, 2, "m2-EDITED", "a1", 9))

      // ---- pass 2: state present → INCREMENTAL with the OR-query -------
      val esBefore = es.requests.size
      val r2 = pass()
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 2L)), r2.toString)
      // the watermark pair was read back from CH and rode the ES wire as
      // the insert-or-update should-query, byte-exact
      val open2 = es.requests.drop(esBefore).find(r => r._2 == "/app_logs/_search?scroll=5m").get._3
      assert(open2 == EsSourceConfig.incrementalSearchBody(
        3, "created_at", "2024-01-07 00:00:00", "updated_at", "2024-01-07 00:00:00"), open2)
      // both rows landed (stub store is append-only; real CH upserts via
      // UNIQUE KEY _id): the new doc and the EDITED version of doc 2
      assert(t.rows.size == 9)
      val msgs = t.rows.map(r => r(t.schema.indexWhere(_._1 == "msg")))
      assert(msgs.contains("m8") && msgs.contains("m2-EDITED"), msgs.toString)
      // state advanced monotonically on BOTH watermarks
      val row2 = st.rows.last
      assert(cell(row2, "last_sync_time") == "2024-01-08 00:00:00", row2.toString)
      assert(cell(row2, "last_update_time") == "2024-01-09 00:00:00", row2.toString)
      assert(cell(row2, "last_sync_count") == "2")
      // the max() state read resolves the newest row across both appends
      val wm = tgt.query(ClickHouseDdl.lastSyncTimeSqlEs("wh", "app_logs")).head
      assert(wm(0) == "2024-01-08 00:00:00" && wm(1) == "2024-01-09 00:00:00", wm.mkString(","))

      // ---- pass 3: quiescent source → 0 rows, state does NOT advance ---
      val stRows = st.rows.size
      val r3 = pass()
      assert(r3.map(p => (p.mode, p.rows)) == Seq(("incremental", 0L)), r3.toString)
      assert(st.rows.size == stRows, "an empty batch must not append state")
      assert(t.rows.size == 9)
    }
  }

  test("PIT read path: the same composed flow rides ES 8 search_after; PIT opened and closed on the wire") {
    withWire { (es, ch, client, cfg, tgt) =>
      val ep = ch.endpoint
      val r1 = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 10, usePit = true)
      assert(r1.map(p => (p.mode, p.rows)) == Seq(("full", 7L)), r1.toString)
      assert(ch.tables(("wh", "app_logs")).rows.size == 7)
      val reqs = es.requests.toSeq
      assert(reqs.count(r => r._1 == "POST" && r._2 == "/app_logs/_pit?keep_alive=5m") == 1, reqs.toString)
      assert(reqs.count(r => r._1 == "DELETE" && r._2 == "/_pit") == 1)
      assert(!reqs.exists(r => r._2.contains("_search?scroll")), "PIT mode must not open a scroll")
      // incremental pass over PIT: the OR-query rides the pit body
      es.addDoc("app_logs", "8", doc(8, 8, "m8", "a4", 8))
      val r2 = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 10, usePit = true)
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 1L)), r2.toString)
      val pitBody = es.requests.reverse.find(r => r._1 == "POST" && r._2 == "/_search").get._3
      assert(pitBody.contains(EsSourceConfig.incrementalQuery(
        "created_at", "2024-01-07 00:00:00", "updated_at", "2024-01-07 00:00:00")), pitBody)
    }
  }

  test("Mongo variant composed: OID watermark in the CH target, wire-side schema evolution, both wires live") {
    import scala.collection.immutable.ListMap
    val mongo = new MongoStub
    def mdoc(i: Int, extra: Option[String] = None): ListMap[String, Any] = {
      val base = ListMap[String, Any]("_id" -> graft.sources.Bson.Oid(f"$i%024x"), "v" -> s"d$i",
        "meta" -> ListMap[String, Any]("n" -> i))
      extra.fold(base)(e => base + ("extra" -> e))
    }
    mongo.seed("shop", "items", (1 to 9).map(i => mdoc(i)))
    val (mHost, mPort) = mongo.start()
    val ch = new ChStub
    ch.start()
    try {
      val tgt = new graft.sinks.ChHttpClient(ch.endpoint)
      val ep = ch.endpoint
      def pass() = WireSync.runMongo(spark, mHost, mPort, "shop", Seq("items"),
        tgt, () => new ChHttpBatchExecutor(ep), targetDb = "wh", batchSize = 4)

      // ---- pass 1: no state → FULL, 9 docs over find/getMore pages ----
      val r1 = pass()
      assert(r1.map(p => (p.table, p.mode, p.rows, p.failedRows)) == Seq(("items", "full", 9L, 0L)), r1.toString)
      val t = ch.tables(("wh", "items"))
      assert(t.schema.map(_._1).take(2) == Seq("_id", "_timestamp"), t.schema.toString)
      assert(t.rows.size == 9)
      // nested doc flattened depth-1: meta became a JSON string column
      val metaIdx = t.schema.indexWhere(_._1 == "meta")
      assert(metaIdx >= 0 && t.rows.head(metaIdx).contains("\"n\""), t.rows.head.toString)
      // OID watermark rides last_sync_time in the CH-variant state
      val st = ch.tables(("wh", "_sync_state"))
      def cell(r: Seq[String], c: String) = r(st.schema.indexWhere(_._1 == c))
      assert(st.rows.size == 1 && cell(st.rows.head, "last_sync_time") == f"${9}%024x", st.rows.toString)

      // ---- source moves: 3 new docs, one carrying a NEW field ---------
      mongo.seed("shop", "items", (1 to 9).map(i => mdoc(i)) ++
        Seq(mdoc(10), mdoc(11, Some("bonus")), mdoc(12)))
      val r2 = pass()
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 3L)), r2.toString)
      // only the delta crossed the mongo wire ($gt filter server-side)
      assert(t.rows.size == 12)
      // wire-side schema evolution: the new field became an ALTER, old
      // rows read NULL, the new doc's value landed
      assert(ch.requests.exists(_.startsWith("ALTER TABLE `wh`.`items` ADD COLUMN `extra`")),
        ch.requests.filter(_.startsWith("ALTER")).toString)
      val extraIdx = t.schema.indexWhere(_._1 == "extra")
      assert(extraIdx >= 0)
      val vIdx = t.schema.indexWhere(_._1 == "v")
      assert(t.rows.find(_(vIdx) == "d11").get(extraIdx) == "bonus")
      assert(t.rows.find(_(vIdx) == "d3").get(extraIdx) == null)
      // watermark advanced to the newest oid
      assert(cell(st.rows.last, "last_sync_time") == f"${12}%024x", st.rows.last.toString)

      // ---- quiescent pass: zero rows, state untouched ------------------
      val stRows = st.rows.size
      val r3 = pass()
      assert(r3.map(p => (p.mode, p.rows)) == Seq(("incremental", 0L)), r3.toString)
      assert(st.rows.size == stRows && t.rows.size == 12)
    } finally { mongo.stop(); ch.stop() }
  }

  test("CH-to-CH composed: typed DDL, server-side incremental WHERE on the paged read, micro watermark") {
    val source = new ChStub
    val target = new ChStub
    val srcSchema = Seq(
      ("id", "Int64"), ("name", "Nullable(String)"),
      ("amount", "Nullable(Float64)"), ("created_at", "Nullable(DateTime64(6))"))
    source.seed("shop", "orders", srcSchema, (1 to 23).map(i => Seq(
      i.toString, s"name_$i", s"${i * 10}.5", f"2024-01-${i % 28 + 1}%02d 00:00:00.000000")))
    val se = source.start()
    target.start()
    try {
      val tgt = new graft.sinks.ChHttpClient(target.endpoint)
      val ep = target.endpoint
      def pass() = WireSync.runCh(spark, source.endpoint, "shop", tgt,
        () => new ChHttpBatchExecutor(ep), targetDb = "bh", batchSize = 5)

      // ---- pass 1: full — typed DDL from DESCRIBE, 23 rows land -------
      val r1 = pass()
      assert(r1.map(p => (p.table, p.mode, p.rows, p.failedRows)) == Seq(("orders", "full", 23L, 0L)), r1.toString)
      val t = target.tables(("bh", "orders"))
      assert(t.schema.toMap.apply("amount") == "Nullable(Float64)", t.schema.toString)
      assert(t.rows.size == 23)
      // the micro-precision watermark landed in _sync_state
      val st = target.tables(("bh", "_sync_state"))
      def cell(r: Seq[String], c: String) = r(st.schema.indexWhere(_._1 == c))
      assert(cell(st.rows.head, "last_sync_time") == "2024-01-24 00:00:00.000000", st.rows.head.toString)

      // ---- source moves: two newer rows ---------------------------------
      source.tables(("shop", "orders")).rows ++= Seq(
        Seq("24", "name_24", "240.5", "2024-02-01 00:00:00.000000"),
        Seq("25", "name_25", "250.5", "2024-02-02 00:00:00.000000"))
      val srcBefore = source.requests.size
      val r2 = pass()
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 2L)), r2.toString)
      assert(t.rows.size == 25)
      // the delta filter evaluated SERVER-side: every COUNT and page
      // query of the incremental read carries the WHERE clause
      val incReads = source.requests.drop(srcBefore).filter(r => r.startsWith("SELECT"))
      assert(incReads.nonEmpty &&
        incReads.forall(_.contains("WHERE `created_at` > '2024-01-24 00:00:00.000000'")),
        incReads.toString)
      assert(cell(st.rows.last, "last_sync_time") == "2024-02-02 00:00:00.000000", st.rows.last.toString)

      // ---- quiescent: zero rows, state untouched ------------------------
      val stRows = st.rows.size
      val r3 = pass()
      assert(r3.map(p => (p.mode, p.rows)) == Seq(("incremental", 0L)), r3.toString)
      assert(st.rows.size == stRows && t.rows.size == 25)
    } finally { source.stop(); target.stop() }
  }

  test("ECS-style @timestamp index: the incremental query/sort name the RAW ES field, the target the sanitized one") {
    // the reference remaps 'timestamp' back to '@timestamp' before
    // querying (es_to_bytehouse.py:836-839): sanitized names exist only
    // target-side — filtering ES on 'timestamp' matches NOTHING, so
    // every incremental pass would silently sync 0 rows forever
    val ecsMapping = """{"@timestamp":{"type":"date"},"value":{"type":"long"}}"""
    def ecsDoc(day: Int, v: Int) = s"""{"@timestamp":"2024-02-0$day 00:00:00","value":$v}"""
    val es = new EsStub(
      indices = Map("app_metrics" -> (1 to 4).map(d => ecsDoc(d, d * 10))),
      mappings = Map("app_metrics" -> ecsMapping))
    val ch = new ChStub
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port", "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "3"))
      val client = new EsRestClient(cfg.host)
      val tgt = new ChHttpClient(ch.endpoint)
      val ep = ch.endpoint
      def pass() = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 10)

      val r1 = pass()
      assert(r1.map(p => (p.mode, p.rows, p.timeField)) == Seq(("full", 4L, "timestamp")), r1.toString)
      // target column is the SANITIZED spelling; watermark aggregated from it
      val t = ch.tables(("wh", "app_metrics"))
      assert(t.schema.exists(_._1 == "timestamp") && !t.schema.exists(_._1 == "@timestamp"), t.schema.toString)
      assert(r1.head.lastSyncTime == "2024-02-04 00:00:00", r1.toString)

      es.addDoc("app_metrics", "5", ecsDoc(5, 50))
      val esBefore = es.requests.size
      val r2 = pass()
      // the delta came back: the range filter and sort hit the REAL field
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 1L)), r2.toString)
      val open2 = es.requests.drop(esBefore).find(r => r._2 == "/app_metrics/_search?scroll=5m").get._3
      assert(open2 == EsSourceConfig.incrementalSearchBody(3, "@timestamp", "2024-02-04 00:00:00"), open2)
      assert(t.rows.size == 5)
      assert(r2.head.lastSyncTime == "2024-02-05 00:00:00", r2.toString)

      // PIT path: the raw field also rides the pit query AND sortField
      es.addDoc("app_metrics", "6", ecsDoc(6, 60))
      val r3 = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 10, usePit = true)
      assert(r3.map(p => (p.mode, p.rows)) == Seq(("incremental", 1L)), r3.toString)
      val pitBody = es.requests.reverse.find(r => r._1 == "POST" && r._2 == "/_search").get._3
      assert(pitBody.contains(EsSourceConfig.incrementalQuery("@timestamp", "2024-02-05 00:00:00")), pitBody)
      assert(pitBody.contains(""""sort":[{"@timestamp":"asc"}"""), pitBody)
    } finally { es.stop(); ch.stop() }
  }

  test("ES field names the sanitizer rewrites ('$', digit-leading): one target column each, values landed") {
    // mapping, DDL, INSERT and the flattened frame must spell each
    // field one way: `price$usd` -> `price_usd`, `2fa` -> `idx_2fa`
    val oddMapping =
      """{"id":{"type":"long"},"created_at":{"type":"date"},""" +
        """"price$usd":{"type":"keyword"},"2fa":{"type":"keyword"}}"""
    def oddDoc(i: Int) =
      s"""{"id":$i,"created_at":"2024-03-0$i 00:00:00","price$$usd":"$i.50","2fa":"k$i"}"""
    val es = new EsStub(
      indices = Map("app_prices" -> (1 to 4).map(oddDoc)),
      mappings = Map("app_prices" -> oddMapping))
    val ch = new ChStub
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port", "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "3"))
      val client = new EsRestClient(cfg.host)
      val ep = ch.endpoint
      val r = WireSync.run(spark, client, cfg, new ChHttpClient(ep), () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 10)
      assert(r.map(p => (p.mode, p.rows, p.failedRows)) == Seq(("full", 4L, 0L)), r.toString)
      val t = ch.tables(("wh", "app_prices"))
      assert(t.schema.map(_._1) == Seq("_id", "_timestamp", "created_at", "id", "idx_2fa", "price_usd"),
        t.schema.toString)
      assert(!ch.requests.exists(_.startsWith("ALTER")), ch.requests.filter(_.startsWith("ALTER")).toString)
      def cells(c: String) = t.rows.map(_(t.schema.indexWhere(_._1 == c))).sorted
      assert(cells("price_usd") == (1 to 4).map(i => s"$i.50"), t.rows.toString)
      assert(cells("idx_2fa") == (1 to 4).map(i => s"k$i"), t.rows.toString)
    } finally { es.stop(); ch.stop() }
  }

  test("ES mapping gains a field after table creation: the pass ALTERs it into the target instead of wedging") {
    withWire { (es, ch, client, cfg, tgt) =>
      val ep = ch.endpoint
      def pass() = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 10)
      assert(pass().map(_.rows) == Seq(7L))
      // producer adds a field to the mapping + a doc carrying it
      es.updateMapping("app_logs", mapping.dropRight(1) + ""","note":{"type":"keyword"}}""")
      es.addDoc("app_logs", "8",
        """{"id":8,"created_at":"2024-01-08 00:00:00","msg":"m8","agent":{"id":"a4"},""" +
          """"updated_at":"2024-01-08 00:00:00","note":"hello"}""")
      val r2 = pass()
      assert(r2.map(p => (p.mode, p.rows, p.failedRows)) == Seq(("incremental", 1L, 0L)), r2.toString)
      // the new field crossed the wire as an ALTER (reference
      // add_new_columns, es_to_bytehouse.py:994-1023), old rows read NULL
      assert(ch.requests.exists(_.startsWith("ALTER TABLE `wh`.`app_logs` ADD COLUMN `note`")),
        ch.requests.filter(_.startsWith("ALTER")).toString)
      val t = ch.tables(("wh", "app_logs"))
      val noteIdx = t.schema.indexWhere(_._1 == "note")
      val msgIdx = t.schema.indexWhere(_._1 == "msg")
      assert(noteIdx >= 0)
      assert(t.rows.find(_(msgIdx) == "m8").get(noteIdx) == "hello")
      assert(t.rows.find(_(msgIdx) == "m1").get(noteIdx) == null)
      // and the NEXT pass must not re-ALTER (column now described)
      es.addDoc("app_logs", "9",
        """{"id":9,"created_at":"2024-01-09 00:00:00","msg":"m9","agent":{"id":"a5"},""" +
          """"updated_at":"2024-01-09 00:00:00","note":"again"}""")
      val altersBefore = ch.requests.count(_.startsWith("ALTER"))
      assert(pass().map(_.rows) == Seq(1L))
      assert(ch.requests.count(_.startsWith("ALTER")) == altersBefore, "ALTER must be issued exactly once")
    }
  }

  test("CH-to-CH on a plain DateTime column: watermark and WHERE literal at the column's NATIVE (second) precision") {
    val source = new ChStub
    val target = new ChStub
    source.seed("shop", "audit", Seq(("id", "Int64"), ("created_at", "Nullable(DateTime)")),
      (1 to 5).map(i => Seq(i.toString, f"2024-03-0$i%01d 10:00:00")))
    source.start()
    target.start()
    try {
      val tgt = new graft.sinks.ChHttpClient(target.endpoint)
      val ep = target.endpoint
      def pass() = WireSync.runCh(spark, source.endpoint, "shop", tgt,
        () => new ChHttpBatchExecutor(ep), targetDb = "bh", batchSize = 10)

      val r1 = pass()
      assert(r1.map(p => (p.mode, p.rows)) == Seq(("full", 5L)), r1.toString)
      // the watermark is SECOND-precision: no fractional literal is ever
      // handed to a DateTime column (server-side fraction parsing on a
      // second-precision column is version-dependent in real CH)
      val st = target.tables(("bh", "_sync_state"))
      def cell(r: Seq[String], c: String) = r(st.schema.indexWhere(_._1 == c))
      assert(cell(st.rows.head, "last_sync_time") == "2024-03-05 10:00:00", st.rows.head.toString)

      source.tables(("shop", "audit")).rows += Seq("6", "2024-03-06 10:00:00")
      val srcBefore = source.requests.size
      val r2 = pass()
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 1L)), r2.toString)
      val incReads = source.requests.drop(srcBefore).filter(_.startsWith("SELECT"))
      assert(incReads.nonEmpty &&
        incReads.forall(_.contains("WHERE `created_at` > '2024-03-05 10:00:00'")), incReads.toString)
      assert(cell(st.rows.last, "last_sync_time") == "2024-03-06 10:00:00", st.rows.last.toString)
    } finally { source.stop(); target.stop() }
  }

  test("composed fallback: a poisoned row degrades to row-at-a-time; state does NOT advance past the failure") {
    withWire { (_, ch, client, cfg, tgt) =>
      ch.rejectMarker = Some("m4")
      val ep = ch.endpoint
      val r = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 100)
      // rows scatter over Spark partitions, so how many ride the failed
      // batch (and retry singly) varies — landed/lost counts do not
      assert(r.map(p => (p.mode, p.rows, p.failedRows)) == Seq(("full", 6L, 1L)), r.toString)
      // the lost row's error is reported, not swallowed
      assert(r.head.errors.size == 1 && r.head.errors.head.contains("marker 'm4'"), r.head.errors.toString)
      assert(ch.tables(("wh", "app_logs")).rows.size == 6)
      // a lost row means NO state row: advancing the watermark past it
      // would orphan it forever; the next pass must re-read the batch
      val st = ch.tables(("wh", "_sync_state"))
      assert(st.rows.isEmpty, st.rows.toString)
      assert(r.head.lastSyncTime == "" && r.head.lastUpdateTime == "", r.head.toString)
      // target healed → the retry pass is a FULL re-read (empty
      // watermark) and every row lands; re-inserts are idempotent on
      // real CH (UNIQUE KEY _id), the stub store just appends
      ch.rejectMarker = None
      val r2 = WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 100)
      assert(r2.map(p => (p.mode, p.rows, p.failedRows)) == Seq(("full", 7L, 0L)), r2.toString)
      assert(r2.head.errors.isEmpty, r2.head.errors.toString)
      assert(st.rows.size == 1)
      assert(st.rows.head(st.schema.indexWhere(_._1 == "last_sync_time")) == "2024-01-07 00:00:00")
    }
  }
}
