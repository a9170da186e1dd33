package graft.sync

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Incremental
import graft.sinks.{PartitionedUpsert, Writers}

/** Sync orchestration — the reference's full/incremental/auto modes
  * (es_to_bytehouse.py:1153-1207 `run_full_sync`,
  * 1053-1102 `run_incremental`, README "auto 模式") over parquet
  * targets, with the `_sync_state` table persisted as parquet.
  *
  * Every lake entry point ([[autoSync]], [[autoSyncByOid]] and the
  * time-less tables of [[autoSyncTables]]) runs one pass, `lakePass`:
  * no state for the table → full sync of the source; state present →
  * incremental batch (newer than the watermarks), probed for emptiness
  * first so a quiescent pass writes nothing. The batch is written once,
  * and its row count and watermark maxima ride that write. The new
  * state comes from [[commit]], the rule the wire passes ([[WireSync]])
  * share. Restart-safe: state is re-read from storage each pass,
  * exactly like the reference.
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

  /** A state table read with its schema given (no inference job), or
    * an empty one when the dir is missing. A dir that exists but holds
    * no parquet yet (a sync that crashed between mkdir and first write)
    * reads as empty, i.e. "no state".
    */
  private def stateTable[S <: Product: TypeTag](spark: SparkSession, stateDir: String): DataFrame = {
    val p = new Path(stateDir)
    val encoder = Encoders.product[S]
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(encoder.schema).parquet(stateDir)
    else spark.emptyDataset(encoder).toDF()
  }

  /** The [[SyncState]] table. Rows written before the dual-watermark
    * columns existed read them as `""` and `Long.MinValue` (the
    * reference defaults them the same way).
    */
  private def syncStateTable(spark: SparkSession, stateDir: String): DataFrame =
    stateTable[SyncState](spark, stateDir).withColumns(Map(
      "update_time_field" -> coalesce(col("update_time_field"), lit("")),
      "last_update_us" -> coalesce(col("last_update_us"), lit(Long.MinValue))))

  def readState(spark: SparkSession, stateDir: String, table: String): Option[SyncState] = {
    import spark.implicits._
    syncStateTable(spark, stateDir)
      .filter(col("table_name") === table)
      .orderBy(col("updated_us").desc)
      .limit(1)
      .as[SyncState]
      .collect()
      .headOption
  }

  /** Latest sync state per table — the reference's reporting sweep
    * (clickhouse_to_bytehouse.py:205-224 `query_sync_state`). One
    * window over the (tiny) state table; empty frame if none exists.
    */
  def listSyncState(spark: SparkSession, stateDir: String): DataFrame =
    Incremental.latestPerKey(syncStateTable(spark, stateDir), Seq("table_name"), Seq("updated_us"))
      .orderBy("table_name")

  def appendState(spark: SparkSession, stateDir: String, state: SyncState): Unit = {
    import spark.implicits._
    Seq(state).toDS().write.mode("append").parquet(stateDir)
  }

  /** Per-table sync history, newest first — the reference's
    * `query_sync_state(table_name)` report
    * (clickhouse_to_bytehouse.py:205-214, `ORDER BY sync_time DESC
    * LIMIT 10`). The state table is tiny; this is a metadata read.
    */
  def stateHistory(spark: SparkSession, stateDir: String, table: String, limit: Int = 10): DataFrame =
    syncStateTable(spark, stateDir)
      .filter(col("table_name") === table)
      .orderBy(col("updated_us").desc)
      .limit(limit)

  /** Sync state for the mongo variant's ObjectId watermark
    * (mongodb_to_bytehouse.py:579-679): `last_id` is the monotone
    * 24-hex-char `_id` kept as a STRING, exactly like the reference's
    * state table — never parsed into a number, compared
    * lexicographically.
    */
  case class OidSyncState(table_name: String, last_id: String, n_rows: Long, updated_us: Long)

  def readOidState(spark: SparkSession, stateDir: String, table: String): Option[OidSyncState] = {
    import spark.implicits._
    stateTable[OidSyncState](spark, stateDir)
      .filter(col("table_name") === table)
      .orderBy(col("updated_us").desc, col("last_id").desc)
      .limit(1)
      .as[OidSyncState]
      .collect()
      .headOption
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
    val src = if (addTimestamp) Incremental.addSyncTimestamp(source, nowUs) else source
    // an append replaces nothing, so an empty full pass writes nothing
    lakePass[String](spark, readOidState(spark, stateDir, table).map(s => Seq(s.last_id)), src,
      old => Incremental.newerThanOid(src, oidCol, old.head), Seq(col(oidCol)), "", fullReplaces = false)(
      (batch, _) => batch.write.mode("append").parquet(targetDir),
      (marks, n, _) => appendOidState(spark, stateDir, OidSyncState(table, marks.head, n, nowUs)))(Utf8Order)
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
    // ADD_TIMESTAMP mode: every synced row carries the sync time
    // (mongodb_to_bytehouse.py:133; `_timestamp` in the reference DDL)
    val src = if (addTimestamp) Incremental.addSyncTimestamp(source, nowUs) else source
    def usCol(c: String): Column = unix_micros(col(c).cast("timestamp"))
    // `c` strictly after watermark `w`, in the form parquet can push
    // down; at the floor that form overflows inside Spark's parquet
    // filter conversion, so the floor compares in micros (nothing to prune)
    def after(c: String, w: Long): Column =
      if (w == Long.MinValue) usCol(c) > w
      else col(c).cast("timestamp") > timestamp_micros(lit(w))
    // forceFull is the reference's explicit `--mode full` (run_full_sync
    // re-migrates regardless of state); the rewritten target and fresh
    // watermark row keep later incremental passes consistent
    val st = if (forceFull) None else readState(spark, stateDir, table)
    def record(marks: Seq[Long], rows: Long, mode: String): Unit = appendState(spark, stateDir,
      SyncState(table, timeCol, marks(0), rows, mode, nowUs,
        updateCol.getOrElse(st.fold("")(_.update_time_field)), marks(1)))
    val (mode, n) = lakePass[Long](spark, st.map(s => Seq(s.last_sync_us, s.last_update_us)), src,
      // OR-watermark delta: created after the create watermark OR
      // updated after the update watermark (the reference's
      // insert-or-update incremental, es_to_bytehouse.py:843-853)
      old => src.filter(updateCol.foldLeft(after(timeCol, old(0)))((p, u) => p || after(u, old(1)))),
      // without an update field the second maximum is null, which
      // keeps last_update_us where it was
      Seq(usCol(timeCol), updateCol.fold(lit(null).cast("long"))(usCol)), Long.MinValue)(
      (batch, full) => (partitionCol, full) match {
        case (Some(p), true) => PartitionedUpsert.writeFull(batch, targetDir, p)
        case (Some(p), false) => PartitionedUpsert.merge(spark, batch, targetDir, keyCols, orderCols, p)
        case (None, true) => writeSwap(batch, targetDir)
        case (None, false) => writeSwap(
          Incremental.mergeUpsert(spark.read.parquet(targetDir), batch, keyCols, orderCols), targetDir)
      },
      record)
    // a forced pass that landed no rows has emptied a target that older
    // state rows describe: reset the watermarks to the floor, or the
    // next pass would resume past rows the target no longer holds
    if (forceFull && n == 0) record(Seq(Long.MinValue, Long.MinValue), 0L, mode)
    // opt-in post-sync maintenance: every merge leaves batch-sized
    // (or shuffle-partition-count) files behind; the sweep rewrites
    // ONLY drifted dirs, so steady-state cost is metadata-only
    // (Writers.compact no-ops when already compact)
    if (n > 0) compactTargetBytes.foreach { b =>
      if (partitionCol.isDefined) Writers.compactPartitioned(spark, targetDir, b)
      else Writers.compact(spark, targetDir, b)
    }
    (mode, n)
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
    * ([[autoSyncAll]]), JDBC tables (`spark.read.jdbc`) and in-memory
    * frames are interchangeable — the
    * orchestration (time-field detection, OR-watermark routing, state)
    * never changes. The wire sources have their own passes
    * ([[WireSync]]); there, ES documents are buffered on the driver
    * before Spark sees a row, which bounds an index by driver memory.
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
            // no watermark to route on: a full refresh every pass
            val r = lakePass[Long](spark, None, df, _ => df, Nil, Long.MinValue)(
              (batch, _) => writeSwap(batch, target),
              (_, n, m) => appendState(spark, stateDir, SyncState(table, "", Long.MinValue, n, m, nowUs)))
            if (r._2 > 0) compactTargetBytes.foreach(b => Writers.compact(spark, target, b))
            r
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

  /** The commit rule of every sync pass, lake and wire. A batch with
    * ANY failed row does not advance: the failed rows' watermarks may
    * sit at or below the batch max, so advancing would orphan them
    * forever, while the next pass re-reads the whole batch and
    * re-inserts idempotently. Otherwise each watermark moves to
    * max(old, batch max) in `ord`, so it never moves back; `batchMax`
    * holds one value per watermark, and a column that held no value
    * reports the order's floor (`Long.MinValue`, `""`), which keeps the
    * old watermark. A state row is due exactly when rows landed — the
    * reference skips the bookkeeping insert on an empty batch
    * (es_to_bytehouse.py:1087). Returns the new watermarks and whether
    * to append a state row.
    */
  private[sync] def commit[W](old: Seq[W], batchMax: Seq[W], rows: Long, failedRows: Long)(
      implicit ord: Ordering[W]): (Seq[W], Boolean) = {
    require(batchMax.size == old.size, s"${batchMax.size} batch maxima for ${old.size} watermarks")
    if (failedRows > 0) (old, false)
    else (old.lazyZip(batchMax).map(ord.max), rows > 0)
  }

  /** Spark's string order (UTF-8 bytes), in which Spark's `max` and
    * [[graft.sinks.BatchedUpsertWriter]] reduce string maxima.
    */
  private[sync] val Utf8Order: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)

  /** One lake pass. `old` holds the state's watermarks; `None` routes
    * a full pass over `source`, otherwise the batch is `delta(old)`.
    * The batch is probed for emptiness first by one job whose tasks
    * stop at their first row, so a quiescent pass writes nothing; only
    * a full pass whose write replaces the target (`fullReplaces`) skips
    * the probe, as it must run over an empty source too. `write(batch,
    * full)` lands the batch once; its row count and the maxima of
    * `marks` (`floor` for null) ride that write through an
    * [[Observation]]. [[commit]] turns them into the new watermarks,
    * which `append(watermarks, rows, mode)` records. Returns (mode,
    * rows).
    */
  private def lakePass[W](
      spark: SparkSession,
      old: Option[Seq[W]],
      source: DataFrame,
      delta: Seq[W] => DataFrame,
      marks: Seq[Column],
      floor: W,
      fullReplaces: Boolean = true
  )(write: (DataFrame, Boolean) => Unit, append: (Seq[W], Long, String) => Unit)(
      implicit ord: Ordering[W]): (String, Long) = {
    val mode = if (old.isEmpty) "full" else "incremental"
    val batch = old.fold(source)(delta)
    def landsRows = spark.sparkContext
      .runJob(batch.select().queryExecution.toRdd, (rows: Iterator[InternalRow]) => rows.hasNext)
      .contains(true)
    if ((old.nonEmpty || !fullReplaces) && !landsRows) (mode, 0L)
    else {
      val seen = Observation()
      write(batch.observe(seen, count(lit(1)).as("n"),
        marks.zipWithIndex.map { case (m, i) => max(m).as(s"m$i") }: _*), old.isEmpty)
      val got = seen.get
      val n = got("n").asInstanceOf[Long]
      // a parquet write lands every row or throws: no failed rows
      val (next, due) = commit(old.getOrElse(marks.map(_ => floor)),
        marks.indices.map(i => Option(got(s"m$i")).fold(floor)(_.asInstanceOf[W])), n, 0L)
      if (due) append(next, n, mode)
      (mode, n)
    }
  }

  /** Atomic-ish replace of a parquet target: write temp, then a
    * checked swap (PartitionedUpsert.promote) that restores the old
    * target and throws on rename failure — so a failed swap never
    * advances sync state.
    */
  private def writeSwap(df: DataFrame, targetDir: String): Unit = {
    val tmp = targetDir + "__tmp"
    df.write.mode("overwrite").parquet(tmp)
    PartitionedUpsert.promote(
      new Path(targetDir).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration), tmp, targetDir)
  }
}
