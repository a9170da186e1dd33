package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.{BatchedUpsertWriter, ChHttpBatchExecutor, ChHttpClient}
import graft.sources.{Bson, Catalog, EsRestClient, EsSourceConfig}
import graft.sync.{SyncRunner, WireSync}

/** The wire sync pass is one Spark job per synced object: the write,
  * which also returns the watermark maxima, plus schema inference for
  * an ES index. An empty read runs no job. The maxima the write returns
  * are the `agg(max)` they replace, in Spark's string order.
  *
  * A parquet-lake pass reads state (one job), writes the batch once
  * with its row count and maxima observed on that write, and appends
  * one state row; a pass whose write does not replace the target (an
  * incremental pass, the ObjectId append) first probes for emptiness
  * (one job), so a quiescent pass writes nothing.
  */
class SyncJobsSpec extends SparkSpec {

  private val noopExecutor: () => BatchedUpsertWriter.BatchExecutor =
    () => new BatchedUpsertWriter.BatchExecutor {
      override def execute(insertSql: String, rows: Seq[Seq[Any]]): Unit = ()
    }

  test("ES index: at most two jobs per pass (schema inference + write); parse runs in tasks") {
    val mapping = """{"id":{"type":"long"},"created_at":{"type":"date"},"msg":{"type":"keyword"}}"""
    val docs = (1 to 9).map(i => s"""{"id":$i,"created_at":"2024-01-0$i 00:00:00","msg":"m$i"}""")
    val es = new EsStub(indices = Map("app_logs" -> docs), mappings = Map("app_logs" -> mapping))
    val ch = new ChStub
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port", "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "4"))
      val ep = ch.endpoint
      val (r, jobs) = jobsDuring(WireSync.run(spark, new EsRestClient(cfg.host), cfg,
        new ChHttpClient(ep), () => new ChHttpBatchExecutor(ep), targetDb = "wh", insertBatchSize = 3))
      assert(r.map(p => (p.mode, p.rows, p.lastSyncTime)) == Seq(("full", 9L, "2024-01-09 00:00:00")), r.toString)
      assert(jobs <= 2, s"$jobs jobs")
      // the (_id, doc) frame is RDD-backed: nothing folds into a driver-side local relation
      val frame = EsRestClient.docFrame(spark, Seq("1" -> """{"a":1}"""))
      assert(!frame.select(from_json(col("doc"), "a INT", Map.empty[String, String]))
        .queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    } finally { es.stop(); ch.stop() }
  }

  test("ClickHouse table: one job per pass; an empty incremental pass runs none") {
    val source = new ChStub
    val target = new ChStub
    source.seed("shop", "orders", Seq(("id", "Int64"), ("created_at", "Nullable(DateTime64(6))")),
      (1 to 12).map(i => Seq(i.toString, f"2024-01-$i%02d 00:00:00.000000")))
    source.start()
    target.start()
    try {
      val ep = target.endpoint
      def pass() = WireSync.runCh(spark, source.endpoint, "shop", new ChHttpClient(ep),
        () => new ChHttpBatchExecutor(ep), targetDb = "bh", batchSize = 5)
      val (r1, jobs1) = jobsDuring(pass())
      assert(r1.map(p => (p.mode, p.rows, p.lastSyncTime)) ==
        Seq(("full", 12L, "2024-01-12 00:00:00.000000")), r1.toString)
      assert(jobs1 == 1, s"$jobs1 jobs")
      // the write is the only reader: each of the three pages is requested once
      assert(source.requests.count(_.contains("LIMIT 5 OFFSET")) == 3, source.requests.toString)
      val (r2, jobs2) = jobsDuring(pass())
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 0L)), r2.toString)
      assert(jobs2 == 0, s"$jobs2 jobs")
    } finally { source.stop(); target.stop() }
  }

  test("Mongo collection: one job per pass; an empty incremental pass runs none") {
    val mongo = new MongoStub
    mongo.seed("shop", "items", (1 to 7).map(i =>
      ListMap[String, Any]("_id" -> Bson.Oid(f"$i%024x"), "v" -> s"d$i")))
    val (host, port) = mongo.start()
    val ch = new ChStub
    ch.start()
    try {
      val ep = ch.endpoint
      def pass() = WireSync.runMongo(spark, host, port, "shop", Seq("items"), new ChHttpClient(ep),
        () => new ChHttpBatchExecutor(ep), targetDb = "wh", batchSize = 3)
      val (r1, jobs1) = jobsDuring(pass())
      assert(r1.map(p => (p.mode, p.rows, p.lastSyncTime)) == Seq(("full", 7L, f"${7}%024x")), r1.toString)
      assert(jobs1 == 1, s"$jobs1 jobs")
      val (r2, jobs2) = jobsDuring(pass())
      assert(r2.map(p => (p.mode, p.rows)) == Seq(("incremental", 0L)), r2.toString)
      assert(jobs2 == 0, s"$jobs2 jobs")
    } finally { mongo.stop(); ch.stop() }
  }

  test("write-side maxima equal agg(max): nulls, an all-null column, UTF-8 vs UTF-16 order") {
    import spark.implicits._
    // U+E000 sorts above a surrogate pair in UTF-16 (Java String order)
    // but below the supplementary char in UTF-8 (Spark's order)
    val bmp = new String(Character.toChars(0xE000))
    val supp = new String(Character.toChars(0x1F600))
    assert(bmp.compareTo(supp) > 0)
    val rows = Seq[(String, String, String, String)](
      ("1", "2024-01-02", null, bmp),
      ("2", null, null, supp),
      ("3", "2024-01-10", null, "a" + bmp),
      ("4", "2024-01-09", null, null),
      ("5", null, null, "a" + supp),
      ("6", "2023-12-31", null, "z"))
    val df = rows.toDF("_id", "ts", "empty", "s").repartition(3)
    val cols = Seq("_id", "ts", "empty", "s")
    val widths = spark.sparkContext.collectionAccumulator[(String, Int)]("widths")
    val recording: () => BatchedUpsertWriter.BatchExecutor = () => new BatchedUpsertWriter.BatchExecutor {
      override def execute(insertSql: String, rows: Seq[Seq[Any]]): Unit =
        rows.foreach(r => widths.add(insertSql -> r.size))
    }
    val stats = BatchedUpsertWriter.write(df, "db", "t", 2, recording, maxOf = cols.map(col))
    val agg = df.agg(max(col("_id")), cols.tail.map(c => max(col(c))): _*).collect()(0)
    val expected = cols.indices.map(i => if (agg.isNullAt(i)) "" else agg.getString(i))
    assert(stats.maxima == expected, stats.toString)
    // Java's String order would have picked `bmp`
    assert(stats.maxima == Seq("6", "2024-01-10", "", supp), stats.toString)
    assert(stats.rows == 6L && stats.failedRows == 0L && stats.errors.isEmpty)
    // the maxima ride the write but are never inserted
    import scala.jdk.CollectionConverters._
    assert(widths.value.asScala.toSet ==
      Set(graft.sinks.ClickHouseDdl.insertSql("db", "t", cols) -> cols.size), widths.value.toString)
    val emptyStats = BatchedUpsertWriter.write(df.limit(0), "db", "t", 2, noopExecutor, maxOf = Seq(col("s")))
    assert(emptyStats.maxima == Seq(""), emptyStats.toString)
  }

  test("failed rows carry at most three sample error messages") {
    import spark.implicits._
    val df = (1 to 8).map(i => (i.toString, if (i % 2 == 0) "bad" else "ok")).toDF("_id", "v").repartition(2)
    val exec: () => BatchedUpsertWriter.BatchExecutor = () => new BatchedUpsertWriter.BatchExecutor {
      override def execute(insertSql: String, rows: Seq[Seq[Any]]): Unit =
        rows.find(_(1) == "bad").foreach(r => throw new IllegalStateException(s"row ${r.head} rejected"))
    }
    val stats = BatchedUpsertWriter.write(df, "db", "t", 10, exec)
    assert(stats.rows == 4L && stats.failedRows == 4L, stats.toString)
    assert(stats.errors.size == BatchedUpsertWriter.MaxErrorSamples, stats.toString)
    assert(stats.errors.forall(_.matches("java.lang.IllegalStateException: row [2468] rejected")), stats.toString)
  }

  // ---- the parquet-lake passes -----------------------------------------

  private def tmp(prefix: String): String = java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every file under `dir`, with its length and modification time. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap
  }

  private val cutoffUs = 1705276800000000L // 2024-01-15

  test("lake autoSync: full <= 3 jobs, quiescent <= 2 and leaves target and state untouched") {
    val events = Catalog.load(spark, sf, "events")
    val firstHalf = events.filter(unix_micros(col("ts")) <= cutoffUs)
    val (nFirst, nAll) = (firstHalf.count(), events.count())
    val stateDir = tmp("graft_lakejobs_state") + "/state"
    val targetDir = tmp("graft_lakejobs_target") + "/events"
    def pass(src: DataFrame, now: Long) = SyncRunner.autoSync(spark, src, "events", Seq("event_id"), "ts",
      Seq("ts", "event_id"), targetDir, stateDir, nowUs = now)
    val (r1, full) = jobsDuring(pass(firstHalf, 1L))
    assert(r1 == ("full", nFirst))
    assert(full <= 3, s"full pass: $full jobs")
    val (r2, incremental) = jobsDuring(pass(events, 2L))
    assert(r2 == ("incremental", nAll - nFirst))
    val (target, state) = (listing(targetDir), listing(stateDir))
    val (r3, quiescent) = jobsDuring(pass(events, 3L))
    assert(r3 == ("incremental", 0L))
    assert(quiescent <= 2, s"quiescent pass: $quiescent jobs")
    assert(listing(targetDir) == target)
    assert(listing(stateDir) == state, "a quiescent pass appends no state row")
    assert(spark.read.parquet(targetDir).count() == nAll)
    info(s"jobs: full $full, incremental with rows $incremental, quiescent $quiescent")
  }

  test("lake autoSync, partitioned by day: an incremental pass with rows takes <= 8 jobs") {
    // the merge takes its row count from the pass's observed write
    // and runs no count() of its own
    val events = Catalog.load(spark, sf, "events").withColumn("day", to_date(col("ts")))
    val firstHalf = events.filter(unix_micros(col("ts")) <= cutoffUs)
    val (nFirst, nAll) = (firstHalf.count(), events.count())
    val stateDir = tmp("graft_partjobs_state") + "/state"
    val targetDir = tmp("graft_partjobs_target") + "/events"
    def pass(src: DataFrame, now: Long) = SyncRunner.autoSync(spark, src, "events", Seq("event_id"), "ts",
      Seq("ts", "event_id"), targetDir, stateDir, nowUs = now, partitionCol = Some("day"))
    assert(pass(firstHalf, 1L) == ("full", nFirst))
    val (r2, incremental) = jobsDuring(pass(events, 2L))
    assert(r2 == ("incremental", nAll - nFirst))
    assert(incremental <= 8, s"incremental pass: $incremental jobs")
    assert(spark.read.parquet(targetDir).count() == nAll)
    assert(SyncRunner.readState(spark, stateDir, "events").map(_.n_rows).contains(nAll - nFirst))
    info(s"jobs: incremental with rows $incremental")
  }

  test("lake autoSyncByOid: full <= 3 jobs, quiescent <= 2") {
    val docs = Catalog.load(spark, sf, "events")
      .select(lpad(lower(hex(col("event_id"))), 24, "0").as("_id"), col("user_id"))
    val (n, maxId) = (docs.count(), docs.agg(max(col("_id"))).collect()(0).getString(0))
    val stateDir = tmp("graft_oidjobs_state") + "/state"
    val targetDir = tmp("graft_oidjobs_target") + "/docs"
    def pass() = SyncRunner.autoSyncByOid(spark, docs, "docs", "_id", targetDir, stateDir, nowUs = 1L)
    val (r1, full) = jobsDuring(pass())
    assert(r1 == ("full", n))
    assert(full <= 3, s"full pass: $full jobs")
    assert(SyncRunner.readOidState(spark, stateDir, "docs").map(_.last_id).contains(maxId))
    val target = listing(targetDir)
    val (r2, quiescent) = jobsDuring(pass())
    assert(r2 == ("incremental", 0L))
    assert(quiescent <= 2, s"quiescent pass: $quiescent jobs")
    assert(listing(targetDir) == target)
    info(s"jobs: full $full, quiescent $quiescent")
  }

  test("a pass that lands no rows appends no state row: an empty full pass stays full") {
    val events = Catalog.load(spark, sf, "events")
    val none = events.filter(col("event_id") < 0)
    val stateDir = tmp("graft_emptyfull_state") + "/state"
    val targetDir = tmp("graft_emptyfull_target") + "/events"
    def pass(src: DataFrame) = SyncRunner.autoSync(spark, src, "events", Seq("event_id"), "ts",
      Seq("ts", "event_id"), targetDir, stateDir, nowUs = 1L)
    assert(pass(none) == ("full", 0L))
    assert(SyncRunner.readState(spark, stateDir, "events").isEmpty)
    assert(pass(events) == ("full", events.count()))
    assert(SyncRunner.readState(spark, stateDir, "events").map(_.mode).contains("full"))
    // an empty time-less refresh records nothing either
    val region = Catalog.load(spark, sf, "region")
    val r = SyncRunner.autoSyncTables(spark, Seq("dim"), _ => region.filter(lit(false)),
      tmp("graft_emptydim_target"), stateDir, nowUs = 2L)
    assert(r == Map("dim" -> ("full", 0L)))
    assert(SyncRunner.readState(spark, stateDir, "dim").isEmpty)
    // nor does an empty ObjectId pass, and its append writes no file
    val oidTarget = tmp("graft_emptyoid_target") + "/docs"
    val noDocs = none.select(col("event_id").cast("string").as("_id"))
    for (now <- 1L to 2L) {
      assert(SyncRunner.autoSyncByOid(spark, noDocs, "docs", "_id", oidTarget, stateDir, now) == ("full", 0L))
      assert(listing(oidTarget.stripSuffix("/docs")).isEmpty)
    }
    assert(SyncRunner.readOidState(spark, stateDir, "docs").isEmpty)
  }

  test("a forced full pass over an empty source resets the watermarks, so refilled rows sync again") {
    val events = Catalog.load(spark, sf, "events").withColumn("day", to_date(col("ts")))
    val firstHalf = events.filter(unix_micros(col("ts")) <= cutoffUs)
    val nFirst = firstHalf.count()
    for (part <- Seq(None, Some("day"))) {
      val stateDir = tmp("graft_forced_state") + "/state"
      val targetDir = tmp("graft_forced_target") + "/events"
      def pass(src: DataFrame, now: Long, forceFull: Boolean = false) = SyncRunner.autoSync(spark, src,
        "events", Seq("event_id"), "ts", Seq("ts", "event_id"), targetDir, stateDir, now,
        partitionCol = part, forceFull = forceFull)
      assert(pass(firstHalf, 1L) == ("full", nFirst))
      assert(pass(firstHalf.filter(lit(false)), 2L, forceFull = true) == ("full", 0L))
      // the source comes back with rows at or below the old watermark
      assert(pass(firstHalf, 3L) == ("incremental", nFirst), part)
      assert(spark.read.parquet(targetDir).count() == nFirst, part)
    }
  }

  test("a pre-dual-watermark state row reads with defaults, and the next autoSync pass is incremental") {
    import spark.implicits._
    val events = Catalog.load(spark, sf, "events")
    val firstHalf = events.filter(unix_micros(col("ts")) <= cutoffUs)
    val (nFirst, nAll) = (firstHalf.count(), events.count())
    val stateDir = tmp("graft_compat_state") + "/state"
    val targetDir = tmp("graft_compat_target") + "/events"
    firstHalf.write.parquet(targetDir)
    // the six-column SyncState layout, before update_time_field and
    // last_update_us existed
    Seq(("events", "ts", cutoffUs, nFirst, "full", 1L))
      .toDF("table_name", "time_field", "last_sync_us", "n_rows", "mode", "updated_us")
      .write.parquet(stateDir)
    assert(SyncRunner.readState(spark, stateDir, "events") ==
      Some(SyncRunner.SyncState("events", "ts", cutoffUs, nFirst, "full", 1L, "", Long.MinValue)))
    val r = SyncRunner.autoSync(spark, events, "events", Seq("event_id"), "ts", Seq("ts", "event_id"),
      targetDir, stateDir, nowUs = 2L)
    assert(r == ("incremental", nAll - nFirst))
    assert(spark.read.parquet(targetDir).count() == nAll)
    // old and new rows read side by side
    val history = SyncRunner.stateHistory(spark, stateDir, "events")
      .select("mode", "update_time_field", "last_update_us").as[(String, String, Long)].collect()
    assert(history.toSeq == Seq(("incremental", "", Long.MinValue), ("full", "", Long.MinValue)))
  }
}
