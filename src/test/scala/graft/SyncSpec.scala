package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Incremental
import graft.sinks.BatchedUpsertWriter
import graft.sources.Catalog
import graft.sync.SyncRunner

/** Recording fake executor: collects SQL+rows in a JVM-local buffer
  * (valid under local[n] — one JVM) and fails on demand to exercise
  * the row-fallback path.
  */
object RecordingExecutor {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
  @volatile var failBatchesOver: Int = Int.MaxValue
  def reset(failOver: Int = Int.MaxValue): Unit = { seen.clear(); failBatchesOver = failOver }
}

class SyncSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("scd2: runs collapse, intervals chain, exactly one current row per key") {
    import spark.implicits._
    // user 1: a,a,b,a — the aa run collapses; user 2: one version only
    val log = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "a"), (1L, 30L, 102L, "b"), (1L, 40L, 103L, "a"),
      (2L, 15L, 104L, "x")
    ).toDF("k", "ts", "seq", "v")
    val got = Incremental.scd2(log, Seq("k"), Seq("ts", "seq"), Seq("v"))
      .orderBy("k", "valid_from_us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", 10L, 30L, 0L), // aa collapsed into one interval
      (1L, "b", 30L, 40L, 0L),
      (1L, "a", 40L, -1L, 1L), // value returning opens a NEW interval
      (2L, "x", 15L, -1L, 1L)))
    // intervals chain: every non-current end == the next start (asserted
    // by the expected sequence above), and one current row per key
    assert(got.count(_._5 == 1L) == 2)
  }

  test("snapshotDiff: add/remove/change classes; hashed and exact modes agree; null-safe") {
    import spark.implicits._
    val old = Seq((1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]), (4L, Option("d")))
      .toDF("k", "v")
    val nu = Seq((1L, Option("a")), (2L, Option("B")), (3L, Option.empty[String]), (5L, Option("e")))
      .toDF("k", "v")
    def classes(hashed: Boolean): Map[Long, String] =
      Incremental.snapshotDiff(old, nu, Seq("k"), Seq("v"), hashed)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Map(
      1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", // NULL vs NULL must compare equal, not changed
      4L -> "removed", 5L -> "added")
    assert(classes(hashed = true) == expected)
    assert(classes(hashed = false) == expected)
  }

  test("snapshotDiff hashed: a value moving between complementary-null columns is 'changed'") {
    import spark.implicits._
    // hash expressions skip null children, so without null-position
    // discrimination old (x, null) vs new (null, x) would fingerprint
    // identically and be misclassified as unchanged
    val old = Seq((1L, Option("x"), Option.empty[String])).toDF("k", "a", "b")
    val nu = Seq((1L, Option.empty[String], Option("x"))).toDF("k", "a", "b")
    val got = Incremental.snapshotDiff(old, nu, Seq("k"), Seq("a", "b"), hashed = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "changed"))
  }

  test("format matrix: CSV/JSONL/ORC sources load to the same rows; sync thunk composes") {
    import spark.implicits._
    val base = Seq(
      (1L, "alpha, with a comma", 10L),
      (2L, "line\nbreak and \"quotes\"", 20L),
      (3L, "plain", 30L)
    ).toDF("id", "note", "v")
    val dir = Files.createTempDirectory("graft_fmt").toString
    base.coalesce(1).write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(s"$dir/csv")
    base.coalesce(1).write.mode("overwrite").json(s"$dir/jsonl")
    base.coalesce(1).write.mode("overwrite").orc(s"$dir/orc")
    val ddl = "id BIGINT, note STRING, v BIGINT"
    val expect = base.orderBy("id").collect().toSeq
    // loadFormat's CSV path carries escape + multiLine itself, so the
    // round-trip of embedded quotes/newlines goes through the loader
    assert(Catalog.loadFormat(spark, s"$dir/csv", "csv", Some(ddl))
      .orderBy("id").collect().toSeq == expect, "csv round-trip")
    assert(Catalog.loadFormat(spark, s"$dir/jsonl", "jsonl", Some(ddl))
      .orderBy("id").collect().toSeq == expect, "jsonl round-trip")
    assert(Catalog.loadFormat(spark, s"$dir/orc", "orc")
      .orderBy("id").collect().toSeq == expect, "orc round-trip")
    // the sync loop is source-agnostic: its source thunk can serve any
    // format the matrix loads (same contract the ES/JDBC surfaces use)
    val thunk: () => org.apache.spark.sql.DataFrame =
      () => Catalog.loadFormat(spark, s"$dir/orc", "orc")
    assert(thunk().count() == 3)
    // unsupported formats fail loudly at call time
    intercept[IllegalArgumentException](Catalog.loadFormat(spark, dir, "xml"))
  }

  test("auto mode: full sync first, then incremental upsert, restart-safe state") {
    val events = Catalog.load(spark, sf, "events")
    val cutoffUs = 1705276800000000L // 2024-01-15
    val firstHalf = events.filter(unix_micros(col("ts")) <= cutoffUs)
    val stateDir = tmp("graft_state") + "/state"
    val targetDir = tmp("graft_target") + "/events"

    // pass 1: no state → full
    val (m1, n1) = SyncRunner.autoSync(
      spark, firstHalf, "events", Seq("event_id"), "ts", Seq("ts", "event_id"),
      targetDir, stateDir, nowUs = 1L)
    assert(m1 == "full" && n1 == firstHalf.count())

    // pass 2: state present → incremental picks up ONLY the delta
    val (m2, n2) = SyncRunner.autoSync(
      spark, events, "events", Seq("event_id"), "ts", Seq("ts", "event_id"),
      targetDir, stateDir, nowUs = 2L)
    assert(m2 == "incremental")
    assert(n2 == events.count() - firstHalf.count())
    assert(spark.read.parquet(targetDir).count() == events.count())

    // pass 3: nothing new → zero-row incremental
    val (m3, n3) = SyncRunner.autoSync(
      spark, events, "events", Seq("event_id"), "ts", Seq("ts", "event_id"),
      targetDir, stateDir, nowUs = 3L)
    assert(m3 == "incremental" && n3 == 0)

    val st = SyncRunner.readState(spark, stateDir, "events").get
    assert(st.mode == "incremental" && st.last_sync_us > cutoffUs)
  }

  test("oid watermark sync: string state round-trips, only greater ids sync, timestamp decodes") {
    import spark.implicits._
    def oidOf(sec: Long, n: Long): String =
      f"$sec%08x" + f"$n%016x"
    val t0 = 1706054400L // 2024-01-24 00:00:00 UTC
    val first = Seq(oidOf(t0, 1), oidOf(t0 + 60, 2), oidOf(t0 + 120, 3)).toDF("_id")
    val stateDir = tmp("graft_oid_state") + "/state"
    val targetDir = tmp("graft_oid_target") + "/docs"

    val (m1, n1) = SyncRunner.autoSyncByOid(spark, first, "docs", "_id", targetDir, stateDir, nowUs = 1L)
    assert(m1 == "full" && n1 == 3)
    // state holds the max id AS A STRING, exactly as the reference stores last_id
    val st1 = SyncRunner.readOidState(spark, stateDir, "docs").get
    assert(st1.last_id == oidOf(t0 + 120, 3))
    // the embedded creation time decodes back out of the watermark
    val decoded = Seq(st1.last_id).toDF("oid")
      .select(Incremental.oidTimestampSec(col("oid"))).collect()(0).getLong(0)
    assert(decoded == t0 + 120)

    // pass 2: one older id (must NOT sync) + two newer (must sync), stamped
    val second = Seq(oidOf(t0 + 30, 9), oidOf(t0 + 180, 4), oidOf(t0 + 240, 5)).toDF("_id")
    val (m2, n2) = SyncRunner.autoSyncByOid(spark, second, "docs", "_id", targetDir, stateDir,
      nowUs = 7777000000L, addTimestamp = true)
    assert(m2 == "incremental" && n2 == 2)
    // pass-1 files lack _timestamp (stamping off), pass-2 files have it
    val target = spark.read.option("mergeSchema", "true").parquet(targetDir)
    assert(target.count() == 5)
    assert(!target.select("_id").as[String].collect().contains(oidOf(t0 + 30, 9)))
    // ADD_TIMESTAMP: the delta rows carry the sync time
    val stamped = target.filter(col("_id") >= oidOf(t0 + 180, 0))
    assert(stamped.select(unix_micros(col("_timestamp"))).as[Long].collect().toSet == Set(7777000000L))
    assert(SyncRunner.readOidState(spark, stateDir, "docs").get.last_id == oidOf(t0 + 240, 5))

    // pass 3: nothing new → state untouched
    val (m3, n3) = SyncRunner.autoSyncByOid(spark, second, "docs", "_id", targetDir, stateDir, nowUs = 9L)
    assert(m3 == "incremental" && n3 == 0)
    assert(SyncRunner.readOidState(spark, stateDir, "docs").get.last_id == oidOf(t0 + 240, 5))
  }

  test("autoSync ADD_TIMESTAMP stamps full and incremental batches with sync time") {
    val events = Catalog.load(spark, sf, "events").limit(100)
    val stateDir = tmp("graft_ts_state") + "/state"
    val targetDir = tmp("graft_ts_target") + "/events"
    SyncRunner.autoSync(spark, events, "events", Seq("event_id"), "ts", Seq("ts", "event_id"),
      targetDir, stateDir, nowUs = 4242000000L, addTimestamp = true)
    val stamps = spark.read.parquet(targetDir)
      .select(unix_micros(col("_timestamp"))).distinct().collect().map(_.getLong(0)).toSet
    assert(stamps == Set(4242000000L))
  }

  test("stateHistory: newest-first bounded report per table (ref query_sync_state)") {
    val stateDir = tmp("graft_hist_state") + "/state"
    (1L to 12L).foreach { i =>
      SyncRunner.appendState(spark, stateDir,
        SyncRunner.SyncState("t1", "ts", i * 100, i, "incremental", i))
    }
    SyncRunner.appendState(spark, stateDir,
      SyncRunner.SyncState("t2", "ts", 1L, 1L, "full", 99L))
    val h = SyncRunner.stateHistory(spark, stateDir, "t1").collect()
    assert(h.length == 10) // bounded like the reference's LIMIT 10
    assert(h.map(_.getAs[Long]("updated_us")).toSeq == (12L to 3L by -1).toSeq) // newest first
    assert(SyncRunner.stateHistory(spark, stateDir, "t2").count() == 1)
    assert(SyncRunner.stateHistory(spark, tmp("graft_hist_none") + "/state", "x").count() == 0)
  }

  test("state readers treat an existing-but-empty state dir as no state (crash between mkdir and write)") {
    val emptyDir = tmp("graft_empty_state") // exists, holds no parquet
    assert(SyncRunner.readState(spark, emptyDir, "t").isEmpty)
    assert(SyncRunner.readOidState(spark, emptyDir, "t").isEmpty)
    assert(SyncRunner.listSyncState(spark, emptyDir).count() == 0)
    assert(SyncRunner.stateHistory(spark, emptyDir, "t").count() == 0)
    // ...and a later pass can still write + read through the same dir
    SyncRunner.appendState(spark, emptyDir, SyncRunner.SyncState("t", "ts", 1L, 1L, "full", 1L))
    assert(SyncRunner.readState(spark, emptyDir, "t").nonEmpty)
  }

  test("auto mode upsert: updated rows replace, not duplicate") {
    import spark.implicits._
    val stateDir = tmp("graft_state2") + "/state"
    val targetDir = tmp("graft_target2") + "/t"
    val v1 = Seq((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-02 00:00:00", "b"))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    SyncRunner.autoSync(spark, v1, "t", Seq("id"), "ts", Seq("ts"), targetDir, stateDir, 1L)
    // key 1 gets a newer version; key 3 is new
    val v2 = v1.unionByName(
      Seq((1L, "2024-01-03 00:00:00", "a2"), (3L, "2024-01-04 00:00:00", "c"))
        .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    SyncRunner.autoSync(spark, v2, "t", Seq("id"), "ts", Seq("ts"), targetDir, stateDir, 2L)
    val got = spark.read.parquet(targetDir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(got.toSeq == Seq((1L, "a2"), (2L, "b"), (3L, "c")))
  }

  test("batched writer: batch sizing and row-level fallback on failure") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(2)
    RecordingExecutor.reset()
    val stats = BatchedUpsertWriter.write(df, "db", "t", batchSize = 30, () => new BatchedUpsertWriter.BatchExecutor {
      def execute(sql: String, rows: Seq[Seq[Any]]): Unit = {
        if (rows.size > RecordingExecutor.failBatchesOver) throw new RuntimeException("too big")
        RecordingExecutor.seen.add((sql, rows.size))
      }
    })
    assert(stats.rows == 100 && stats.failedRows == 0)
    val sqls = RecordingExecutor.seen.toArray.map(_.asInstanceOf[(String, Int)])
    assert(sqls.forall(_._1 == "INSERT INTO `db`.`t` (`id`, `v`) VALUES"))

    // batches over 10 rows fail → per-row fallback keeps all rows
    RecordingExecutor.reset(failOver = 10)
    val stats2 = BatchedUpsertWriter.write(df, "db", "t", batchSize = 30, () => new BatchedUpsertWriter.BatchExecutor {
      def execute(sql: String, rows: Seq[Seq[Any]]): Unit = {
        if (rows.size > RecordingExecutor.failBatchesOver) throw new RuntimeException("too big")
        RecordingExecutor.seen.add((sql, rows.size))
      }
    })
    assert(stats2.rows == 100 && stats2.fallbackRows == 100 && stats2.failedRows == 0)
  }

  test("autoSyncAll: pattern sweep, time-field detection, full fallback for dimensions") {
    val stateDir = tmp("graft_state3") + "/state"
    val targetRoot = tmp("graft_target3")
    val r1 = SyncRunner.autoSyncAll(spark, sf, "events,region", targetRoot, stateDir, nowUs = 1L)
    assert(r1("events")._1 == "full" && r1("region")._1 == "full")
    // second sweep: events (has ts) goes incremental, region (no time field) refreshes full
    val r2 = SyncRunner.autoSyncAll(spark, sf, "events,region", targetRoot, stateDir, nowUs = 2L)
    assert(r2("events") == ("incremental", 0L))
    assert(r2("region")._1 == "full")
    assert(spark.read.parquet(s"$targetRoot/events").count() ==
      Catalog.load(spark, sf, "events").count())
  }

  test("update-aware sync: in-place update (same create ts, newer update ts) is picked up") {
    import spark.implicits._
    val stateDir = tmp("graft_stateu") + "/state"
    val targetDir = tmp("graft_targetu") + "/t"
    def mk(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("id", "created", "updated", "v")
        .withColumn("created", col("created").cast("timestamp"))
        .withColumn("updated", col("updated").cast("timestamp"))

    val v1 = mk(Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:00:00", "a"),
      (2L, "2024-01-02 00:00:00", "2024-01-02 00:00:00", "b")
    ))
    val (m1, _) = SyncRunner.autoSync(spark, v1, "t", Seq("id"), "created",
      Seq("updated", "created", "id"), targetDir, stateDir, 1L, updateCol = Some("updated"))
    assert(m1 == "full")

    // id 1 updated IN PLACE: create ts unchanged (before the create
    // watermark), update ts fresh — only the OR-filter can see it
    val v2 = mk(Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-05 00:00:00", "a2"),
      (2L, "2024-01-02 00:00:00", "2024-01-02 00:00:00", "b")
    ))
    val (m2, n2) = SyncRunner.autoSync(spark, v2, "t", Seq("id"), "created",
      Seq("updated", "created", "id"), targetDir, stateDir, 2L, updateCol = Some("updated"))
    assert(m2 == "incremental" && n2 == 1)
    val got = spark.read.parquet(targetDir).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    assert(got.toSeq == Seq((1L, "a2"), (2L, "b")))

    // dual watermarks: update watermark advanced; create watermark NOT
    // regressed by the update-only delta (its max create ts is older)
    val st = SyncRunner.readState(spark, stateDir, "t").get
    assert(st.update_time_field == "updated")
    assert(st.last_update_us == 1704412800000000L) // 2024-01-05
    assert(st.last_sync_us == 1704153600000000L)   // 2024-01-02, kept
    // nothing new → zero-row pass (no double pickup)
    val (_, n3) = SyncRunner.autoSync(spark, v2, "t", Seq("id"), "created",
      Seq("updated", "created", "id"), targetDir, stateDir, 3L, updateCol = Some("updated"))
    assert(n3 == 0)
  }

  test("runContinuous: passes over a growing source stay incremental, state monotone") {
    import spark.implicits._
    val srcDir = tmp("graft_contsrc")
    val stateDir = tmp("graft_contstate") + "/state"
    val targetRoot = tmp("graft_conttarget")
    def write(n: Int): Unit =
      (1 to n).map(i => (i.toLong, s"2024-01-${"%02d".format(i)} 00:00:00", s"v$i"))
        .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
        .write.mode("overwrite").parquet(s"$srcDir/tbl.parquet")

    write(3)
    val results = SyncRunner.runContinuous(
      spark, srcDir, "tbl", targetRoot, stateDir, maxPasses = 3,
      nowUsForPass = _.toLong,
      onPassEnd = (pass, _) => if (pass == 1) write(5) // grow between passes
    )
    assert(results(0)("tbl") == ("full", 3L))
    assert(results(1)("tbl") == ("incremental", 2L)) // only the 2 new rows
    assert(results(2)("tbl") == ("incremental", 0L))
    assert(spark.read.parquet(s"$targetRoot/tbl").count() == 5)
    // reporting sweep shows the latest state per table
    val listed = SyncRunner.listSyncState(spark, stateDir).collect()
    assert(listed.length == 1)
    val row = listed(0)
    assert(row.getAs[String]("table_name") == "tbl" && row.getAs[String]("mode") == "incremental")
    assert(row.getAs[Long]("last_sync_us") == 1704412800000000L) // 2024-01-05
  }

  test("boundedBackfill: start_date lower bound reaches the scan") {
    import spark.implicits._
    val df = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-02-01 00:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val got = Incremental.boundedBackfill(df, "ts", "2024-02-01 00:00:00")
      .select("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L))
  }

  test("partitioned upsert: only delta partitions rewritten, others byte-identical") {
    import spark.implicits._
    import graft.sinks.PartitionedUpsert
    val stateDir = tmp("graft_statep") + "/state"
    val targetDir = tmp("graft_targetp") + "/t"

    def mk(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("id", "ts", "day", "v").withColumn("ts", col("ts").cast("timestamp"))

    val v1 = mk(Seq(
      (1L, "2024-01-01 10:00:00", "2024-01-01", "a"),
      (2L, "2024-01-02 10:00:00", "2024-01-02", "b"),
      (3L, "2024-01-03 10:00:00", "2024-01-03", "c"),
      (4L, "2024-01-03 11:00:00", "2024-01-03", "d")
    ))
    val (m1, n1) = SyncRunner.autoSync(spark, v1, "t", Seq("id"), "ts", Seq("ts", "id"),
      targetDir, stateDir, 1L, partitionCol = Some("day"))
    assert(m1 == "full" && n1 == 4)

    // fingerprint every file of the untouched partitions
    def fileMap(sub: String): Map[String, (Long, String)] = {
      val dir = java.nio.file.Paths.get(targetDir, sub)
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val bytes = Files.readAllBytes(p)
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        dir.relativize(p).toString -> (bytes.length.toLong, md5)
      }.toMap
    }
    val before1 = fileMap("day=2024-01-01")
    val before2 = fileMap("day=2024-01-02")
    assert(before1.nonEmpty && before2.nonEmpty)

    // delta: key 3 updated in place (same day), key 5 lands in a new day
    val delta = mk(Seq(
      (3L, "2024-01-04 09:00:00", "2024-01-03", "c2"),
      (5L, "2024-01-04 10:00:00", "2024-01-04", "e")
    ))
    val v2 = v1.unionByName(delta)
    val (m2, n2) = SyncRunner.autoSync(spark, v2, "t", Seq("id"), "ts", Seq("ts", "id"),
      targetDir, stateDir, 2L, partitionCol = Some("day"))
    assert(m2 == "incremental" && n2 == 2)

    // merged target == mergeUpsert of the whole
    val expected = Incremental.mergeUpsert(v1, delta, Seq("id"), Seq("ts", "id"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = spark.read.parquet(targetDir)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
    assert(got("3" .toLong -> "c2") && got(5L -> "e"))

    // untouched partitions: identical file sets, byte-identical content
    assert(fileMap("day=2024-01-01") == before1)
    assert(fileMap("day=2024-01-02") == before2)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(targetDir, "day=2024-01-04")))

    // third pass with nothing new: no state row appended, target intact
    val (m3, n3) = SyncRunner.autoSync(spark, v2, "t", Seq("id"), "ts", Seq("ts", "id"),
      targetDir, stateDir, 3L, partitionCol = Some("day"))
    assert(m3 == "incremental" && n3 == 0)
    assert(spark.read.parquet(targetDir).count() == 5)
  }

  test("autoSync with compactTargetBytes: batch-sized small files swept after each merge") {
    import spark.implicits._
    val stateDir = tmp("graft_statec") + "/state"
    val targetDir = tmp("graft_targetc") + "/t"
    def mk(day: String, ids: Range) =
      ids.map(i => (i.toLong, f"$day 10:00:${i % 60}%02d", day, s"v$i"))
        .toDF("id", "ts", "day", "v").withColumn("ts", col("ts").cast("timestamp"))
    def nFiles(sub: String) =
      new java.io.File(s"$targetDir/$sub").listFiles().count(_.getName.endsWith(".parquet"))

    // a wide cluster write: 8 tasks → 8 small files in the partition
    val v1 = mk("2024-01-01", 1 to 64).repartition(8)
    val (m1, n1) = SyncRunner.autoSync(spark, v1, "t", Seq("id"), "ts", Seq("ts", "id"),
      targetDir, stateDir, 1L, partitionCol = Some("day"), compactTargetBytes = Some(1L << 30))
    assert(m1 == "full" && n1 == 64)
    assert(nFiles("day=2024-01-01") == 1, "full-load files must be swept")

    val v2 = v1.unionByName(mk("2024-01-02", 101 to 164).repartition(8))
    val (m2, n2) = SyncRunner.autoSync(spark, v2, "t", Seq("id"), "ts", Seq("ts", "id"),
      targetDir, stateDir, 2L, partitionCol = Some("day"), compactTargetBytes = Some(1L << 30))
    assert(m2 == "incremental" && n2 == 64)
    assert(nFiles("day=2024-01-02") == 1, "delta partition must be swept after the merge")
    assert(nFiles("day=2024-01-01") == 1)
    assert(spark.read.parquet(targetDir).count() == 128)
  }

  test("distinct sketches: per-batch state unions to the all-time estimate") {
    val ev = Catalog.load(spark, sf, "events")
    val (b1, b2) = (ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 =!= 0))
    val sketches = Incremental.distinctSketch(b1, "user_id", "events", 1L)
      .unionByName(Incremental.distinctSketch(b2, "user_id", "events", 2L))
    val est = Incremental.estimateDistinct(sketches).collect()(0)
    assert(est.getString(0) == "events" && est.getLong(2) == 2L)
    val exact = ev.select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    // HLL union of batch sketches == sketch of the union: the merged
    // estimate must equal sketching the whole table in one pass...
    val oneShot = Incremental.estimateDistinct(
      Incremental.distinctSketch(ev, "user_id", "events", 9L)).collect()(0).getLong(1)
    assert(est.getLong(1) == oneShot, "sketch union must be lossless for set union")
    // ...and land within HLL error bounds of the exact count
    assert(math.abs(est.getLong(1) - exact).toDouble / exact < 0.05,
      s"estimate ${est.getLong(1)} vs exact $exact")
  }

  test("conformToTarget: target order/types, case-insensitive match, WRITABLE nulls") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val batch = Seq((1L, "x", 9L)).toDF("ID", "v", "src_only")
    val target = StructType.fromDDL("v STRING, id BIGINT, tgt_only STRING")
    val out = Incremental.conformToTarget(batch, target)
    assert(out.columns.toSeq == Seq("v", "id", "tgt_only"))
    val r = out.collect()(0)
    // case-differing ID conformed (not nulled); missing col is typed null
    assert(r.getString(0) == "x" && r.getLong(1) == 1L && r.isNullAt(2))
    // the whole point: the conformed batch must be WRITABLE (an
    // untyped NullType column would throw here)
    val dir = tmp("graft_conform") + "/t"
    out.write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).schema == target)
  }

  test("alerts: severity filter, 60s per-message rate limit, payload shape, guard rethrows") {
    import graft.sync.Alerts
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var now = 1000L
    val a = new Alerts.Alerter(sent.add(_), minIntervalMs = 60000L, clock = () => now)
    def sentSeq = { import scala.jdk.CollectionConverters._; sent.asScala.toSeq }
    assert(!a.emit(Alerts.Info, "ignored") && sentSeq.isEmpty)
    assert(a.warn("disk almost full"))
    assert(!a.warn("disk almost full"), "same message inside the window must be suppressed")
    assert(a.error("disk almost full"), "same text at a DIFFERENT level is a different key")
    now += 60000L
    assert(a.warn("disk almost full"), "window elapsed -> sends again")
    assert(sentSeq.head == """{"level":"WARNING","message":"disk almost full","time_ms":1000}""")
    // escaping: quotes and newlines survive as valid JSON
    a.error("bad \"json\"\nhere")
    assert(sentSeq.last.contains("""bad \"json\"\nhere"""))
    // guard: alerts and rethrows
    val e = intercept[RuntimeException](
      Alerts.guarded(a, "sync t")(sys.error("boom")))
    assert(e.getMessage == "boom" && sentSeq.last.contains("sync t failed: boom"))
  }

  test("promote: failed rename restores target and throws (state never advanced)") {
    import graft.sinks.PartitionedUpsert
    val root = tmp("graft_promote")
    val target = s"$root/t"
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(target))
    fs.create(new org.apache.hadoop.fs.Path(s"$target/data.txt")).close()
    // tmp dir does not exist → rename fails → old target must survive
    intercept[RuntimeException] {
      PartitionedUpsert.promote(fs, s"$root/missing__tmp", target)
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$target/data.txt")))
  }

  test("flattenShallow: mongo-variant semantics (nested -> JSON at depth 1)") {
    import spark.implicits._
    val df = Seq((1L, """{"a":{"b":2},"tags":[1,2],"s":"x"}""")).toDF("id", "doc")
    val parsed = df.withColumn("doc",
      from_json(col("doc"), org.apache.spark.sql.types.StructType.fromDDL(
        "a STRUCT<b: BIGINT>, tags ARRAY<BIGINT>, s STRING")))
      .select(col("id"), col("doc.a").as("a"), col("doc.tags").as("mongo$tags"), col("doc.s").as("s"))
    val flat = operators.Flatten.flattenShallow(parsed)
    assert(flat.columns.toSeq == Seq("id", "a", "mongo_tags", "s"))
    val r = flat.collect()(0)
    assert(r.getAs[String]("a") == """{"b":2}""" && r.getAs[String]("mongo_tags") == "[1,2]")
  }

  test("newerThanEither: insert-or-update incremental (OR watermarks)") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:00:00"), // old, never updated
      (2L, "2024-01-05 00:00:00", "2024-01-05 00:00:00"), // new insert
      (3L, "2024-01-01 00:00:00", "2024-01-06 00:00:00")  // old insert, fresh update
    ).toDF("id", "created", "updated")
      .select(col("id"), col("created").cast("timestamp"), col("updated").cast("timestamp"))
    val got = Incremental
      .newerThanEither(df, "created", "2024-01-02 00:00:00", "updated", "2024-01-02 00:00:00")
      .select("id").orderBy("id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("schema inference cache invalidates when files change at the same path") {
    import spark.implicits._
    val dir = tmp("graft_schemacache") + "/src"
    Seq((1L, """{"a":1}""")).toDF("id", "doc").write.mode("overwrite").parquet(dir)
    val s1 = sources.JsonIngest.inferSchema(spark, spark.read.parquet(dir), "doc")
    assert(s1.fieldNames.toSeq == Seq("a"))
    Thread.sleep(5) // ensure a distinct mtime
    Seq((2L, """{"a":2,"b":"x"}""")).toDF("id", "doc").write.mode("overwrite").parquet(dir)
    val s2 = sources.JsonIngest.inferSchema(spark, spark.read.parquet(dir), "doc")
    assert(s2.fieldNames.toSet == Set("a", "b"), "new field must re-trigger inference")
  }

  test("schema inference cache hits across separate loads of the same files") {
    val dir = tmp("graft_schemacache_events")
    Catalog.load(spark, sf, "events").write.parquet(s"$dir/events.parquet")
    // each load is a new frame with new exprIds; loading itself reads
    // the parquet footers in a job, so only the inference is counted
    def infer() = {
      val events = Catalog.load(spark, dir, "events")
      jobsDuring(sources.JsonIngest.inferSchema(spark, events, "props"))
    }
    val (s1, jobs1) = infer()
    val (s2, jobs2) = infer()
    assert(jobs1 > 0 && s1.nonEmpty)
    assert(s2 == s1)
    assert(jobs2 == 0, s"a second load of unchanged files re-ran inference ($jobs2 jobs)")
    Thread.sleep(5) // ensure a distinct mtime
    Catalog.load(spark, sf, "events").write.mode("overwrite").parquet(s"$dir/events.parquet")
    val (s3, jobs3) = infer()
    assert(s3 == s1)
    assert(jobs3 > 0, "rewritten files must re-trigger inference")
  }

  test("schema inference cache never holds more than its capacity") {
    import spark.implicits._
    val cap = sources.JsonIngest.SchemaCacheCapacity
    for (i <- 1 to cap + 8) {
      // a fresh in-memory frame per call: a new key every time
      sources.JsonIngest.inferSchema(spark, Seq(s"""{"a":$i}""").toDF("doc"), "doc")
      assert(sources.JsonIngest.schemaCacheSize <= cap)
    }
    assert(sources.JsonIngest.schemaCacheSize == cap)
  }

  test("corrupt-JSON quarantine: bad rows kept with raw payload, good rows flattened") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"a": 1, "b": {"c": "x"}}"""),
      (2L, """{"a": 2, "b""""),       // truncated — unparsable
      (3L, """not json at all"""),
      (4L, """{"a": 4, "b": {"c": "y"}}""")
    ).toDF("id", "doc")
    val (good, bad) = sources.JsonIngest.parseWithQuarantine(spark, df, "doc")
    assert(good.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(good.columns.exists(_.startsWith("doc_")), good.columns.mkString(","))
    // quarantined rows carry the ORIGINAL payload for replay
    val q = bad.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(q.toSeq == Seq((2L, """{"a": 2, "b""""), (3L, "not json at all")))
  }

  test("STORE_SOURCE mode keeps raw JSON next to flattened fields") {
    import spark.implicits._
    val df = Seq((1L, """{"k":7}""")).toDF("id", "doc")
    val flat = sources.JsonIngest.parseAndFlatten(spark, df, "doc", keepSource = true)
    assert(flat.columns.contains("_source"))
    assert(flat.collect()(0).getAs[String]("_source") == """{"k":7}""")
  }

  test("schema evolution end-to-end: delta with new column merges via allowMissing") {
    import spark.implicits._
    val base = Seq((1L, "a")).toDF("id", "v")
    val delta = Seq((2L, "b", "extra")).toDF("id", "v", "w")
    val merged = Incremental.mergeUpsert(base, delta, Seq("id"), Seq("id"))
    assert(merged.columns.toSet == Set("id", "v", "w"))
    val r = merged.orderBy("id").collect()
    assert(r(0).isNullAt(2) && r(1).getString(2) == "extra")
  }

  test("z-order layout: every file covers a narrow range of BOTH columns") {
    import spark.implicits._
    // two independent uniform dims — the adversarial case for any
    // single-column sort
    val df = spark.range(100000).select(
      (pmod(xxhash64(col("id"), lit(1)), lit(10000L))).as("x"),
      (pmod(xxhash64(col("id"), lit(2)), lit(10000L))).as("y"))
    def perFileSpread(dir: String, c: String): Double = {
      val spreads = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).as("spread"))
        .collect().map(_.getLong(1).toDouble)
      spreads.sum / spreads.length / 10000.0
    }
    val zDir = tmp("graft_zorder") + "/z"
    sinks.Writers.zorderedParquet(df, zDir, "x", "y", files = 16)
    val plain = tmp("graft_zorder") + "/plain"
    sinks.Writers.sortedParquet(df, plain, Seq("x"), files = 16)
    // single-col sort: x clusters, y is uniform garbage per file
    assert(perFileSpread(plain, "y") > 0.8)
    // z-order: BOTH columns cluster — each file sees a fraction of
    // each dim's range, so min/max stats prune filters on either
    val (zx, zy) = (perFileSpread(zDir, "x"), perFileSpread(zDir, "y"))
    assert(zx < 0.5 && zy < 0.5, f"x=$zx%.2f y=$zy%.2f")
    // and the rewrite is lossless
    assert(spark.read.parquet(zDir).count() == 100000L)
  }

  test("compact: shrinks a many-file dir losslessly, then no-ops when already compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val df = (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    df.repartition(16).write.mode("overwrite").parquet(dir)
    def nFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles == 16)
    val (before, after) = sinks.Writers.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(before == 16 && after == 1 && nFiles == 1)
    // lossless: same rows after the rewrite
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // second sweep is a no-op (idempotent maintenance job)
    assert(sinks.Writers.compact(spark, dir, targetFileBytes = 1L << 30) == (1, 1))
    // and a dir under minFiles is never churned even if oversized
    assert(sinks.Writers.compact(spark, dir, targetFileBytes = 1L, minFiles = 4) == (1, 1))
  }

  test("compactPartitioned: only drifted partitions are rewritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_part").toString + "/t"
    val df = (0L until 400L).map(i => (i, i % 2, s"v$i")).toDF("id", "day", "v")
    df.repartition(8).write.mode("overwrite").partitionBy("day").parquet(dir)
    // day=0 and day=1 both hold 8 small files now; pre-compact day=1
    sinks.Writers.compact(spark, s"$dir/day=1", targetFileBytes = 1L << 30)
    // a crash-leftover hidden aside dir must be skipped, not swept
    new java.io.File(s"$dir/.day=9__old").mkdirs()
    val report = sinks.Writers.compactPartitioned(spark, dir, targetFileBytes = 1L << 30).sortBy(_._1)
    assert(report == Seq(("day=0", 8, 1), ("day=1", 1, 1)))
    // partition layout intact and lossless after the selective rewrite
    val got = spark.read.parquet(dir).orderBy("id")
      .select("id", "day", "v").collect().toSeq
    assert(got == df.orderBy("id").select("id", "day", "v").collect().toSeq)
  }

  test("jsonlShards: byte-identical re-runs, shard membership + line order match the card") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val docs = (0L until 200L).map(i => (i, s"doc-$i body")).toDF("doc_id", "text")
    def dump(path: String): Map[Long, Seq[String]] = {
      graft.sinks.Writers.jsonlShards(docs, "doc_id", path, nShards = 4)
      (0 until 4).map { s =>
        val dir = Paths.get(path, s"shard=$s")
        val lines = JFiles.list(dir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".json"))
          .toSeq.sortBy(_.getFileName.toString)
          .flatMap(p => JFiles.readAllLines(p).asScala)
        s.toLong -> lines.toSeq
      }.toMap
    }
    val d1 = tmp("jsonl_shards_a"); val d2 = tmp("jsonl_shards_b")
    val a = dump(d1); val b = dump(d2)
    assert(a == b, "re-run must be byte-identical")
    assert(a.values.map(_.size).sum == 200, "shards must partition the corpus")
    // line order matches the card's checksum basis: (hp, id) ascending
    val card = graft.operators.Curation.shuffleShards(docs.withColumn("n_chars", lit(1L)), "doc_id", "n_chars", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    def idOf(line: String): Long = """"doc_id":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    a.foreach { case (s, lines) =>
      assert(idOf(lines.head) == card(s)._1, s"shard $s first line != card first_id")
      assert(idOf(lines.last) == card(s)._2, s"shard $s last line != card last_id")
    }
  }
}
