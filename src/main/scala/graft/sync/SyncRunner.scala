package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Incremental
import graft.sinks.PartitionedUpsert

/** Sync orchestration — the reference's full/incremental/auto modes
  * (es_to_bytehouse.py:1153-1207 `run_full_sync`,
  * 1053-1102 `run_incremental`, README "auto 模式") over parquet
  * targets, with the `_sync_state` table persisted as parquet.
  *
  * auto mode: no state for the table → full sync, record state;
  * state present → incremental batch (time > last_sync), upsert-merge
  * into the target, advance state. Restart-safe: state is re-read from
  * storage each run, exactly like the reference.
  */
object SyncRunner {

  /** One `_sync_state` row (es_to_bytehouse.py:416-426). Dual
    * watermark: `last_sync_us` tracks the create-time field,
    * `last_update_us` the (optional) update-time field — the
    * reference's `last_sync_time` / `last_update_time` pair that
    * feeds the OR-filter incremental read.
    */
  case class SyncState(
      table_name: String,
      time_field: String,
      last_sync_us: Long,
      n_rows: Long,
      mode: String,
      updated_us: Long,
      update_time_field: String = "",
      last_update_us: Long = Long.MinValue
  )

  /** The state table as a DataFrame, or None when the dir is missing
    * OR exists but holds no parquet yet — a sync that crashed between
    * mkdir and first write must read as "no state", not throw
    * UNABLE_TO_INFER_SCHEMA on every later pass.
    */
  private def readStateTable(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val hasData = fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        st.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }
      if (hasData) Some(spark.read.parquet(stateDir)) else None
    }
  }

  def readState(spark: SparkSession, stateDir: String, table: String): Option[SyncState] = {
    import spark.implicits._
    readStateTable(spark, stateDir).flatMap { raw =>
      // tolerate state dirs written before the dual-watermark columns
      // existed (the reference defaults them the same way)
      val full = Seq(
        "update_time_field" -> lit(""),
        "last_update_us" -> lit(Long.MinValue)
      ).foldLeft(raw) { case (df, (c, d)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, d)
      }
      full
        .filter(col("table_name") === table)
        .orderBy(col("updated_us").desc)
        .limit(1)
        .as[SyncState]
        .collect()
        .headOption
    }
  }

  /** Latest sync state per table — the reference's reporting sweep
    * (clickhouse_to_bytehouse.py:205-224 `query_sync_state`). One
    * window over the (tiny) state table; empty frame if none exists.
    */
  def listSyncState(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    readStateTable(spark, stateDir) match {
      case None => spark.emptyDataset[SyncState].toDF()
      case Some(raw) =>
        Incremental.latestPerKey(raw, Seq("table_name"), Seq("updated_us"))
          .orderBy("table_name")
    }
  }

  def appendState(spark: SparkSession, stateDir: String, state: SyncState): Unit = {
    import spark.implicits._
    Seq(state).toDS().write.mode("append").parquet(stateDir)
  }

  /** Per-table sync history, newest first — the reference's
    * `query_sync_state(table_name)` report
    * (clickhouse_to_bytehouse.py:205-214, `ORDER BY sync_time DESC
    * LIMIT 10`). The state table is tiny; this is a metadata read.
    */
  def stateHistory(spark: SparkSession, stateDir: String, table: String, limit: Int = 10): DataFrame = {
    import spark.implicits._
    readStateTable(spark, stateDir) match {
      case None => spark.emptyDataset[SyncState].toDF()
      case Some(raw) =>
        raw.filter(col("table_name") === table)
          .orderBy(col("updated_us").desc)
          .limit(limit)
    }
  }

  /** Sync state for the mongo variant's ObjectId watermark
    * (mongodb_to_bytehouse.py:579-679): `last_id` is the monotone
    * 24-hex-char `_id` kept as a STRING, exactly like the reference's
    * state table — never parsed into a number, compared
    * lexicographically.
    */
  case class OidSyncState(table_name: String, last_id: String, n_rows: Long, updated_us: Long)

  def readOidState(spark: SparkSession, stateDir: String, table: String): Option[OidSyncState] = {
    import spark.implicits._
    readStateTable(spark, stateDir).flatMap { raw =>
      raw.filter(col("table_name") === table)
        .orderBy(col("updated_us").desc, col("last_id").desc)
        .limit(1)
        .as[OidSyncState]
        .collect()
        .headOption
    }
  }

  def appendOidState(spark: SparkSession, stateDir: String, state: OidSyncState): Unit = {
    import spark.implicits._
    Seq(state).toDS().write.mode("append").parquet(stateDir)
  }

  /** ObjectId-watermark auto sync — the mongo variant's `_id`
    * incremental (mongodb_to_bytehouse.py:579-679). Ids are unique and
    * monotone, so a strictly-greater watermark never re-reads a row and
    * the sink is a plain append (the reference's UNIQUE KEY merely
    * makes re-inserts idempotent; append preserves the same contents).
    * `addTimestamp` stamps rows with the sync time (ADD_TIMESTAMP mode).
    */
  def autoSyncByOid(
      spark: SparkSession,
      source: DataFrame,
      table: String,
      oidCol: String,
      targetDir: String,
      stateDir: String,
      nowUs: Long,
      addTimestamp: Boolean = false
  ): (String, Long) = {
    val st = readOidState(spark, stateDir, table)
    val delta = st match {
      case Some(s) => Incremental.newerThanOid(source, oidCol, s.last_id)
      case None => source
    }
    val stamped =
      (if (addTimestamp) Incremental.addSyncTimestamp(delta, nowUs) else delta).persist()
    val n = stamped.count()
    if (n > 0) {
      stamped.write.mode("append").parquet(targetDir)
      val maxId = stamped.agg(max(col(oidCol))).collect()(0).getString(0)
      appendOidState(spark, stateDir, OidSyncState(table, maxId, n, nowUs))
    }
    stamped.unpersist()
    (if (st.isEmpty) "full" else "incremental", n)
  }

  /** Run one auto-mode sync pass for `source` into `targetDir`.
    * Returns the mode executed ("full" | "incremental") and rows
    * synced. `orderCols` breaks upsert ties (latest wins).
    *
    * With `partitionCol` set the target is laid out as a partitioned
    * parquet table and incremental batches merge ONLY the partitions
    * the delta lands in (graft.sinks.PartitionedUpsert) — the 100 TB
    * path. Without it the whole target is merged and swapped — fine
    * for small dimension tables only.
    */
  def autoSync(
      spark: SparkSession,
      source: DataFrame,
      table: String,
      keyCols: Seq[String],
      timeCol: String,
      orderCols: Seq[String],
      targetDir: String,
      stateDir: String,
      nowUs: Long,
      partitionCol: Option[String] = None,
      updateCol: Option[String] = None,
      addTimestamp: Boolean = false,
      compactTargetBytes: Option[Long] = None,
      forceFull: Boolean = false
  ): (String, Long) = {
    // opt-in post-sync maintenance: every merge leaves batch-sized
    // (or shuffle-partition-count) files behind; the sweep rewrites
    // ONLY drifted dirs, so steady-state cost is metadata-only
    // (Writers.compact no-ops when already compact)
    def maybeCompact(): Unit = compactTargetBytes.foreach { b =>
      partitionCol match {
        case Some(_) => graft.sinks.Writers.compactPartitioned(spark, targetDir, b)
        case None => graft.sinks.Writers.compact(spark, targetDir, b)
      }
    }
    val fs = new Path(targetDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ADD_TIMESTAMP mode: every synced row carries the sync time
    // (mongodb_to_bytehouse.py:133; `_timestamp` in the reference DDL)
    val src = if (addTimestamp) Incremental.addSyncTimestamp(source, nowUs) else source

    def usCol(c: String): Column = unix_micros(col(c).cast("timestamp"))

    /** (max create-time, max update-time) in one pass over df. */
    def maxes(df: DataFrame): (Long, Long) = {
      val aggs = max(usCol(timeCol)) +: updateCol.map(u => max(usCol(u))).toSeq
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val t = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
      val u =
        if (updateCol.isDefined && !r.isNullAt(1)) r.getLong(1) else Long.MinValue
      (t, u)
    }

    // forceFull is the reference's explicit `--mode full` (run_full_sync
    // re-migrates regardless of state); the rewritten target and fresh
    // watermark row keep later incremental passes consistent
    (if (forceFull) None else readState(spark, stateDir, table)) match {
      case None =>
        // one persisted pass serves count, write AND watermark maxes —
        // a full sync must scan the (100 TB) source exactly once
        val cached = src.persist()
        val n = cached.count()
        partitionCol match {
          case Some(p) => PartitionedUpsert.writeFull(cached, targetDir, p)
          case None =>
            val tmp = targetDir + "__tmp"
            cached.write.mode("overwrite").parquet(tmp)
            PartitionedUpsert.promote(fs, tmp, targetDir)
        }
        val (syncUs, updUs) = maxes(cached)
        cached.unpersist()
        appendState(spark, stateDir, SyncState(table, timeCol, syncUs, n, "full", nowUs,
          updateCol.getOrElse(""), updUs))
        maybeCompact()
        ("full", n)
      case Some(st) =>
        // OR-watermark delta: created after the create watermark OR
        // updated after the update watermark (the reference's
        // insert-or-update incremental, es_to_bytehouse.py:843-853)
        val delta = (updateCol match {
          case Some(u) =>
            src.filter(usCol(timeCol) > st.last_sync_us || usCol(u) > st.last_update_us)
          case None => src.filter(usCol(timeCol) > st.last_sync_us)
        }).persist()
        val n = partitionCol match {
          case Some(p) =>
            PartitionedUpsert.merge(spark, delta, targetDir, keyCols, orderCols, p)
          case None =>
            val c = delta.count()
            if (c > 0) {
              val base = spark.read.parquet(targetDir)
              val merged = Incremental.mergeUpsert(base, delta, keyCols, orderCols)
              writeSwap(spark, merged, targetDir, fs)
            }
            c
        }
        if (n > 0) {
          // watermarks only ever advance: an update-only batch must
          // not regress last_sync_us below rows already synced
          val (dSync, dUpd) = maxes(delta)
          appendState(spark, stateDir, SyncState(
            table, timeCol, math.max(st.last_sync_us, dSync), n, "incremental", nowUs,
            updateCol.getOrElse(st.update_time_field),
            math.max(st.last_update_us, dUpd)))
        }
        delta.unpersist()
        if (n > 0) maybeCompact()
        ("incremental", n)
    }
  }

  /** Sync every table under `srcDir` matching the wildcard pattern —
    * the reference's multi-index loop (`run_full_sync` /
    * `run_incremental` over `get_es_indices(pattern)`). Time field is
    * auto-detected (es_to_bytehouse.py:467-496); tables without one
    * fall back to full refresh every pass, exactly like the reference
    * warns-and-skips incremental. Key columns default to the first
    * column (the `_id` analogue) unless overridden.
    */
  def autoSyncAll(
      spark: SparkSession,
      srcDir: String,
      pattern: String,
      targetRoot: String,
      stateDir: String,
      nowUs: Long,
      keyOverrides: Map[String, Seq[String]] = Map.empty,
      compactTargetBytes: Option[Long] = None,
      forceFull: Boolean = false
  ): Map[String, (String, Long)] =
    autoSyncTables(
      spark,
      graft.sources.Catalog.selectTables(spark, srcDir, pattern),
      graft.sources.Catalog.load(spark, srcDir, _),
      targetRoot, stateDir, nowUs, keyOverrides, compactTargetBytes, forceFull)

  /** The same sweep over ANY source: `loadTable` is a thunk producing
    * the DataFrame for a table name, so parquet catalogs
    * ([[autoSyncAll]]), JDBC sources (`JdbcSource.load` partial
    * application) and an ES reader (`EsSourceConfig.reader(...).load`)
    * are interchangeable — the orchestration (time-field detection,
    * OR-watermark routing, state) never changes.
    */
  def autoSyncTables(
      spark: SparkSession,
      tables: Seq[String],
      loadTable: String => DataFrame,
      targetRoot: String,
      stateDir: String,
      nowUs: Long,
      keyOverrides: Map[String, Seq[String]] = Map.empty,
      compactTargetBytes: Option[Long] = None,
      forceFull: Boolean = false
  ): Map[String, (String, Long)] = {
    tables
      .map { table =>
        val df = loadTable(table)
        val keys = keyOverrides.getOrElse(table, Seq(df.columns.head))
        val target = s"$targetRoot/$table"
        val result = Incremental.detectTimeField(df.schema) match {
          case Some(timeCol) =>
            // update-time field (if distinct from the create-time
            // field) switches the incremental read to OR-watermark
            // mode so in-place updates are picked up
            val updateCol = Incremental.detectUpdateTimeField(df.schema).filter(_ != timeCol)
            val order = updateCol.toSeq ++ Seq(timeCol) ++ keys
            autoSync(spark, df, table, keys, timeCol, order, target, stateDir, nowUs,
              updateCol = updateCol, compactTargetBytes = compactTargetBytes,
              forceFull = forceFull)
          case None =>
            val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
            val n = writeSwap(spark, df, target, fs)
            appendState(spark, stateDir, SyncState(table, "", Long.MinValue, n, "full", nowUs))
            compactTargetBytes.foreach(b => graft.sinks.Writers.compact(spark, target, b))
            ("full", n)
        }
        table -> result
      }
      .toMap
  }

  /** Continuous poll mode — the reference's
    * `run_incremental(continuous=True, interval)` loop
    * (es_to_bytehouse.py:1053-1102): run auto-mode sweeps forever (or
    * `maxPasses` times), sleeping `intervalMs` between passes. Pass 1
    * does full loads, later passes are incremental; state advances
    * monotonically because each pass re-reads it from storage.
    * `onPassEnd` is the observation hook (logging in production, the
    * source-growth driver in tests). Returns per-pass results.
    */
  def runContinuous(
      spark: SparkSession,
      srcDir: String,
      pattern: String,
      targetRoot: String,
      stateDir: String,
      maxPasses: Int,
      intervalMs: Long = 0L,
      nowUsForPass: Int => Long = _.toLong,
      keyOverrides: Map[String, Seq[String]] = Map.empty,
      onPassEnd: (Int, Map[String, (String, Long)]) => Unit = (_, _) => (),
      alerter: Option[Alerts.Alerter] = None,
      compactTargetBytes: Option[Long] = None,
      preflight: Option[() => Unit] = None,
      preflightAttempts: Int = 3,
      preflightBackoffMs: Long = 50L
  ): Seq[Map[String, (String, Long)]] =
    poll(maxPasses, intervalMs, onPassEnd) { pass =>
      // connect-time health probe BEFORE any work is scheduled — the
      // reference refuses to sync when connect/SELECT 1 fails
      // (es_to_bytehouse.py:200-238); bounded backoff rides out a
      // restarting target, a final failure alerts and aborts the loop
      preflight.foreach(p => Health.withRetry(
        s"$pattern pass $pass preflight", preflightAttempts, preflightBackoffMs, alerter)(p()))
      // a failed pass alerts (rate-limited) and aborts the loop —
      // sync state has not advanced, so the next start resumes cleanly
      def sweep = autoSyncAll(spark, srcDir, pattern, targetRoot, stateDir,
        nowUsForPass(pass), keyOverrides, compactTargetBytes)
      alerter.fold(sweep)(Alerts.guarded(_, s"$pattern pass $pass")(sweep))
    }

  /** The poll loop of every continuous mode (this one and
    * [[WireSync.runContinuous]]'s): `maxPasses` passes, `onPassEnd`
    * after each, `intervalMs` of sleep between two passes.
    */
  private[sync] def poll[R](maxPasses: Int, intervalMs: Long, onPassEnd: (Int, R) => Unit)(
      pass: Int => R): Seq[R] =
    (1 to maxPasses).map { p =>
      val r = pass(p)
      onPassEnd(p, r)
      if (intervalMs > 0 && p < maxPasses) Thread.sleep(intervalMs)
      r
    }

  /** Atomic-ish replace of a parquet target: write temp, then a
    * checked swap (PartitionedUpsert.promote) that restores the old
    * target and throws on rename failure — so a failed swap never
    * advances sync state.
    */
  private def writeSwap(
      spark: SparkSession,
      df: DataFrame,
      targetDir: String,
      fs: org.apache.hadoop.fs.FileSystem
  ): Long = {
    val tmp = targetDir + "__tmp"
    val cached = df.persist()
    val n = cached.count()
    cached.write.mode("overwrite").parquet(tmp)
    cached.unpersist()
    PartitionedUpsert.promote(fs, tmp, targetDir)
    n
  }
}
