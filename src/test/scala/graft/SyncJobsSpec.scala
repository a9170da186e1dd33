package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._

import graft.sinks.{BatchedUpsertWriter, ChHttpBatchExecutor, ChHttpClient}
import graft.sources.{Bson, EsRestClient, EsSourceConfig}
import graft.sync.WireSync

/** The sync pass is one Spark job per synced object: the write, which
  * also returns the watermark maxima, plus schema inference for an ES
  * index. An empty read runs no job. The maxima the write returns are
  * the `agg(max)` they replace, in Spark's string order.
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
}
