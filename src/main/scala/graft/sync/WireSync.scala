package graft.sync

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.{Flatten, Incremental, TypeMapper}
import graft.sinks.{BatchedUpsertWriter, ChHttp, ChHttpClient, ChSource, ClickHouseDdl}
import graft.sources.{EsRestClient, EsSourceConfig, JsonIngest, MongoSource}

/** The reference's DEFINING job, composed end-to-end over live wire
  * clients: Elasticsearch in, ClickHouse out, `_sync_state` kept in
  * the target — `run()` in es_to_bytehouse.py:782-823 (discover →
  * map → DDL → full sync → incremental forever), re-expressed over
  * [[graft.sources.EsRestClient]] (scroll or ES 8 PIT pagination) and
  * [[graft.sinks.BatchedUpsertWriter]] +
  * [[graft.sinks.ChHttpBatchExecutor]] (partition-parallel batched
  * INSERT with row-at-a-time fallback). Every per-side component was
  * already live-protocol-proven (`EsLiveParitySpec`,
  * `ChLiveParitySpec`); this object is the composition — ONE auto-mode
  * pass per call, exactly the reference's loop body.
  *
  * The three variants (ES, ClickHouse, MongoDB sources) share one pass
  * skeleton, [[syncObject]]: the watermark read from `_sync_state`, the
  * full/incremental routing and the one batched write are written there
  * once, and it applies the commit rule ("a lost row never advances the
  * watermark") it shares with the parquet-lake passes,
  * [[SyncRunner.commit]]. A variant supplies its time fields, how it
  * keys `_sync_state`, and its read. Their deployment loops likewise
  * share one poll loop ([[runContinuous]]).
  *
  * The objects of one sweep share nothing, so a sweep syncs them
  * concurrently on a pool of at most one thread per driver core (and
  * never more threads than objects), shut down before the sweep
  * returns: one object's round trips, cursor reads and Spark jobs
  * overlap another's. Each object keeps its own request order and its
  * own commit; results come back in listing order. A sweep over one
  * object runs on the calling thread.
  *
  * Auto mode per index (es_to_bytehouse.py:843-868 + 429-460): no
  * `_sync_state` row → full sync (match_all); watermarks present →
  * incremental with the insert-or-update OR-query (create-time range
  * OR update-time range, `minimum_should_match: 1`) sorted ascending
  * on the create-time field so a crash resumes from a monotone
  * watermark. Indices with no detectable time field fall back to a
  * full re-sync every pass, like the reference warns-and-does.
  *
  * Data model is the reference's all-String surface
  * (es_to_bytehouse.py:166-188): `_id` + every flattened mapping field
  * as Nullable(String), with `_timestamp` taking its server-side
  * `now64(3)` DEFAULT. Watermarks are ISO strings compared
  * lexicographically — max() in the state read IS the newest row.
  *
  * Scale note: the ES and Mongo reads buffer every fetched document on
  * the driver before Spark sees a row, so driver memory bounds the
  * batch one index or collection brings to a pass (the ClickHouse read
  * is paged in tasks); with the objects of a sweep in flight together,
  * up to one such buffer per driver core is live at once. Everything
  * after the read runs in tasks: the fetched documents become an
  * RDD-backed frame
  * ([[EsRestClient.docFrame]]), so JSON parsing, flattening and
  * conforming run inside the write job, and every Spark partition
  * drives its own HTTP batch executor, so target throughput scales
  * with executor count. Each synced object costs one
  * Spark job, the write (plus schema inference for an ES index): the
  * watermark maxima ride the write ([[BatchedUpsertWriter.write]]'s
  * `maxOf`), and an empty read is known on the driver from what the
  * reader already holds (the ES buffer, the ClickHouse COUNT, the Mongo
  * buffer), so it runs no job at all.
  */
object WireSync {

  /** One index's pass outcome. `rows` counts rows LANDED (batch +
    * fallback survivors); `failedRows` rows lost to per-row failures,
    * and `errors` up to three of their error messages.
    */
  case class PassResult(
      index: String,
      table: String,
      mode: String, // "full" | "incremental"
      rows: Long,
      fallbackRows: Long,
      failedRows: Long,
      timeField: String,
      updateTimeField: String,
      lastSyncTime: String,
      lastUpdateTime: String,
      errors: Seq[String] = Nil)

  /** Target bootstrap, reference order (es_to_bytehouse.py:401-427):
    * database, then the index-keyed `_sync_state` table. Idempotent
    * (IF NOT EXISTS on both).
    */
  def bootstrap(ch: ChHttpClient, db: String): Unit =
    ClickHouseDdl.bootstrapSql(db).foreach(ch.execute)

  /** One auto-mode sweep over every index matching the configured
    * pattern — the loop body of the reference's continuous mode.
    * Call again after the source moves to get the incremental pass.
    * Every index runs to its end, each committing on its own; then the
    * first failure in listing order propagates.
    */
  def run(
      spark: SparkSession,
      es: EsRestClient,
      esCfg: EsSourceConfig,
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      insertBatchSize: Int = 1000,
      usePit: Boolean = false
  ): Seq[PassResult] =
    esVariant(spark, es, esCfg, ch, chExecutorFactory, targetDb, insertBatchSize, usePit).run()

  /** The reference's actual DEPLOYMENT mode, over live wires:
    * `run_incremental(continuous=True)` (es_to_bytehouse.py:1053-1102)
    * — poll forever (here `maxPasses` times: tests bound it, production
    * passes Int.MaxValue), re-reading `_sync_state` each pass so every
    * pass routes itself, with the reference's per-object fault isolation
    * (its `except Exception: logger.error; continue`, :1088-1094): one
    * object failing mid-pass yields a `Left` for THAT object and the
    * sweep moves on — its state has not advanced, so the next pass
    * resumes it cleanly from the old watermark. `onPassEnd` is the
    * observation hook (logging/alerting in production, the
    * source-mutation driver in tests); `intervalMs` is the poll sleep.
    *
    * The ES loop re-lists the indices every pass, so an index created
    * mid-run joins the next pass; a failed listing makes that pass one
    * `Left` named by the index pattern, and the loop goes on.
    * [[runContinuousCh]] and [[runContinuousMongo]] run the same loop
    * over objects resolved once before it.
    */
  def runContinuous(
      spark: SparkSession,
      es: EsRestClient,
      esCfg: EsSourceConfig,
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      maxPasses: Int,
      insertBatchSize: Int = 1000,
      usePit: Boolean = false,
      intervalMs: Long = 0L,
      onPassEnd: (Int, Seq[Either[(String, String), PassResult]]) => Unit = (_, _) => ()
  ): Seq[Seq[Either[(String, String), PassResult]]] =
    esVariant(spark, es, esCfg, ch, chExecutorFactory, targetDb, insertBatchSize, usePit)
      .runContinuous(maxPasses, intervalMs, onPassEnd)

  /** The ClickHouse-to-ClickHouse variant's defining job, composed
    * over both live wires (clickhouse_to_bytehouse.py:226-371 `run`):
    * per source table, DESCRIBE-derived TYPED target DDL, the
    * time-field-routed full/incremental read — the incremental WHERE
    * (`time > watermark`) evaluates SERVER-side and rides every COUNT
    * and page query of the distributed paged read, so the engine
    * moves only the delta — batched INSERT with row fallback, and the
    * CH-variant `_sync_state` bookkeeping in the target. Watermarks
    * are stored at the time COLUMN's NATIVE precision from DESCRIBE
    * ([[ClickHouseDdl.watermarkFormat]]): micros for DateTime64 — the
    * reference's seconds-precision `%Y-%m-%d %H:%M:%S` watermark
    * silently re-reads or misses sub-second rows at the boundary —
    * whole seconds for plain DateTime, so the server never parses a
    * fractional literal against a second-precision column.
    * Tables with no detectable time field re-sync fully
    * every pass (idempotent on a unique-keyed target), like the
    * reference warns-and-does. One Spark job per table, the write,
    * which reads each page once and returns the formatted time-column
    * maximum; a zero COUNT skips it.
    */
  def runCh(
      spark: SparkSession,
      srcEndpoint: String,
      srcDb: String,
      tgt: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      batchSize: Int = 1000,
      insertBatchSize: Int = 1000,
      orderKeys: Map[String, String] = Map.empty
  ): Seq[PassResult] =
    chVariant(spark, srcEndpoint, srcDb, tgt, chExecutorFactory, targetDb, batchSize,
      insertBatchSize, orderKeys).run()

  /** The reference CH variant's deployment loop
    * (clickhouse_to_bytehouse.py:418-494 `run_incremental`): the table
    * list resolves ONCE before the loop (a table created mid-run waits
    * for a restart, like the reference), then the [[runContinuous]]
    * loop runs over it with per-table fault isolation.
    */
  def runContinuousCh(
      spark: SparkSession,
      srcEndpoint: String,
      srcDb: String,
      tgt: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      maxPasses: Int,
      batchSize: Int = 1000,
      insertBatchSize: Int = 1000,
      orderKeys: Map[String, String] = Map.empty,
      intervalMs: Long = 0L,
      onPassEnd: (Int, Seq[Either[(String, String), PassResult]]) => Unit = (_, _) => ()
  ): Seq[Seq[Either[(String, String), PassResult]]] =
    chVariant(spark, srcEndpoint, srcDb, tgt, chExecutorFactory, targetDb, batchSize,
      insertBatchSize, orderKeys).runContinuous(maxPasses, intervalMs, onPassEnd)

  /** The MongoDB variant's defining job, composed over both live
    * wires (mongodb_to_bytehouse.py:579-779 `run`): per collection,
    * read the ObjectId keyset watermark from the TARGET's CH-variant
    * `_sync_state` (24-hex ObjectIds compare lexicographically, so
    * the reference's max() state read returns the newest id — the
    * watermark rides `last_sync_time`), page the delta over OP_MSG
    * find/getMore with the `_id > oid` filter evaluated SERVER-side,
    * depth-1-flatten to the all-String row surface, evolve the target
    * schema on the wire (`ALTER TABLE … ADD COLUMN` for fields later
    * batches surface — document stores are ragged by design), and
    * land rows through the partition-parallel batched INSERT with
    * row-at-a-time fallback. One Spark job per collection, the write,
    * which returns the newest `_id`; a cursor that drained no document
    * skips it.
    */
  def runMongo(
      spark: SparkSession,
      mongoHost: String,
      mongoPort: Int,
      mongoDb: String,
      collections: Seq[String],
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      batchSize: Int = 1000,
      insertBatchSize: Int = 1000
  ): Seq[PassResult] =
    mongoVariant(spark, mongoHost, mongoPort, mongoDb, collections, ch, chExecutorFactory,
      targetDb, batchSize, insertBatchSize).run()

  /** The reference Mongo variant's deployment loop
    * (mongodb_to_bytehouse.py:726-776 `run_incremental`): the
    * [[runContinuous]] loop over the given collections with
    * per-collection fault isolation (the reference's try/except inside
    * `for collection_name in collections`).
    */
  def runContinuousMongo(
      spark: SparkSession,
      mongoHost: String,
      mongoPort: Int,
      mongoDb: String,
      collections: Seq[String],
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      maxPasses: Int,
      batchSize: Int = 1000,
      insertBatchSize: Int = 1000,
      intervalMs: Long = 0L,
      onPassEnd: (Int, Seq[Either[(String, String), PassResult]]) => Unit = (_, _) => ()
  ): Seq[Seq[Either[(String, String), PassResult]]] =
    mongoVariant(spark, mongoHost, mongoPort, mongoDb, collections, ch, chExecutorFactory,
      targetDb, batchSize, insertBatchSize).runContinuous(maxPasses, intervalMs, onPassEnd)

  /** One variant, its target bootstrapped: the objects a sweep syncs
    * (`listing` names them in the `Left` of a failed listing), the
    * pass over one object, and how many objects a sweep syncs at once
    * (`width`, one per driver core; specs pin 1 to get a sequential
    * request order).
    */
  private[graft] case class Variant(listing: String, objects: () => Seq[String], sync: String => PassResult,
      width: Int = Runtime.getRuntime.availableProcessors) {

    /** One sweep. Every object runs to its end; then the first failure,
      * in listing order, propagates.
      */
    def run(): Seq[PassResult] = sweep(objects())(o => Try(sync(o))).map(_.get)

    /** The deployment loop of [[WireSync.runContinuous]]: every pass
      * lists the objects and syncs each one in isolation.
      */
    def runContinuous(
        maxPasses: Int,
        intervalMs: Long,
        onPassEnd: (Int, Seq[Either[(String, String), PassResult]]) => Unit
    ): Seq[Seq[Either[(String, String), PassResult]]] =
      SyncRunner.poll(maxPasses, intervalMs, onPassEnd) { _ =>
        isolated(listing)(objects()).fold(e => Seq(Left(e)), sweep(_)(o => isolated(o)(sync(o))))
      }

    private def isolated[A](name: String)(f: => A): Either[(String, String), A] =
      try Right(f) catch { case NonFatal(e) => Left((name, e.toString)) }

    /** `f` over `objs`, results in listing order: on a fixed pool of
      * `width` threads, never more than there are objects, or on the
      * calling thread when that is one. Every call has ended and the
      * pool is gone when this returns.
      */
    private def sweep[A](objs: Seq[String])(f: String => A): Seq[A] = {
      val n = math.min(width, objs.size)
      if (n <= 1) objs.map(f)
      else {
        val pool = Executors.newFixedThreadPool(n, (r: Runnable) => {
          val t = new Thread(r, s"graft-sweep-$listing")
          t.setDaemon(true)
          t
        })
        try objs.map(o => pool.submit(() => f(o))).map(_.get())
        catch { case e: ExecutionException => throw e.getCause }
        finally { pool.shutdown(); pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS) }
      }
    }
  }

  /** How a variant keys `_sync_state`: the watermark query (its row
    * holds max(last_sync_time), max(last_update_time)) and the state row
    * for a new (sync, update) watermark pair and the rows landed.
    */
  private case class StateKey(query: String, row: (String, String, Long) => String)

  /** The CH-variant, table-keyed state (CH and Mongo sources). */
  private def tableState(db: String, name: String): StateKey = {
    val table = Flatten.sanitizeName(name)
    StateKey(ClickHouseDdl.lastSyncTimeSql(db, table), (sync, _, rows) =>
      ClickHouseDdl.insertSyncStateSqlCh(db) +
        s" (${ChHttp.sqlLiteral(table)}, ${ChHttp.sqlLiteral(sync)}, '', $rows)")
  }

  /** One object, one pass, for every variant: watermark read → routing
    * → `read` → batched wire write → state append.
    * `read(isFull, lastSync, lastUpdate)` fetches the batch, `None` when
    * nothing moved, with the columns whose maxima are the batch's
    * watermarks (time field, then update field).
    *
    * The new watermarks and whether a state row is due come from
    * [[SyncRunner.commit]], the rule the lake passes share, comparing
    * in Spark's string order as the writer's maxima do: a batch with
    * ANY permanently-failed row does not advance (re-inserts are
    * idempotent on the target's UNIQUE KEY, lost rows are not), and an
    * empty read writes nothing and appends nothing. An object without
    * a time field re-syncs in full every pass and keeps no state.
    */
  private def syncObject(
      name: String,
      ch: ChHttpClient,
      targetDb: String,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      insertBatchSize: Int,
      timeField: Option[String],
      updateField: Option[String],
      state: StateKey
  )(read: (Boolean, String, String) => Option[(DataFrame, Seq[Column])]): PassResult = {
    val table = Flatten.sanitizeName(name)
    val (lastSync, lastUpdate) = ch.query(state.query).headOption
      .fold(("", ""))(r => (Option(r(0)).getOrElse(""), Option(r(1)).getOrElse("")))
    val isFull = timeField.isEmpty || lastSync.isEmpty
    val stats = read(isFull, lastSync, lastUpdate).fold(BatchedUpsertWriter.WriteStats(0L, 0L, 0L, 0L)) {
      case (frame, maxOf) =>
        BatchedUpsertWriter.write(frame, targetDb, table, insertBatchSize, chExecutorFactory, maxOf)
    }
    // a watermark without a maximum (no update field, an empty read)
    // gets the floor "", which keeps the old value
    val (marks, due) = SyncRunner.commit(Seq(lastSync, lastUpdate), stats.maxima.padTo(2, ""),
      stats.rows, stats.failedRows)(SyncRunner.Utf8Order)
    if (due && timeField.isDefined) ch.execute(state.row(marks(0), marks(1), stats.rows))
    PassResult(name, table, if (isFull) "full" else "incremental", stats.rows, stats.fallbackRows,
      stats.failedRows, timeField.getOrElse(""), updateField.getOrElse(""), marks(0), marks(1),
      stats.errors)
  }

  /** CREATE the all-String target for `obj`, DESCRIBE it, and ALTER in
    * the `fields` it lacks (the reference's add_new_columns,
    * es_to_bytehouse.py:994-1023) — otherwise every INSERT after a new
    * field references a missing column and the sync wedges forever.
    * `_timestamp` rides its now64(3) server DEFAULT. Returns the
    * target's columns after the ALTERs.
    */
  private def ensureAllStringTable(ch: ChHttpClient, db: String, obj: String,
      fields: Seq[String]): Seq[String] = {
    ch.execute(ClickHouseDdl.createTableSqlAllString(db, obj, fields, addTimestamp = true))
    val table = Flatten.sanitizeName(obj)
    val described = ch.describeTable(db, table).map(_._1)
    val missing = fields.filterNot(described.toSet)
    Incremental.alterStatements(db, table, missing.map(_ -> "String")).foreach(ch.execute)
    described ++ missing
  }

  /** ES → CH: bootstraps the index-keyed state; every sweep re-lists
    * the indices matching the pattern. One index is mapping → DDL →
    * [[syncObject]] over the watermark-routed scroll or PIT read, two
    * Spark jobs: schema inference over the batch, then the write, which
    * parses, flattens and conforms in its tasks.
    */
  private[graft] def esVariant(
      spark: SparkSession,
      es: EsRestClient,
      esCfg: EsSourceConfig,
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      insertBatchSize: Int,
      usePit: Boolean
  ): Variant = {
    import spark.implicits._
    def syncIndex(index: String): PassResult = {
      // --- mapping → flattened field names + time-field detection ------
      // (es_to_bytehouse.py:260-294, 467-529): detection runs on the
      // MAPPING's types, not sampled data — an empty index still routes
      val detailed = es.mappingFieldsDetailed(index) // sanitized -> (es type, raw ES path)
      val fieldNames = detailed.keys.toSeq.sorted
      // ES-side queries/sorts must name RAW fields (the reference's
      // original_time_field remap, es_to_bytehouse.py:836-839): the
      // sanitized spelling ('@timestamp' -> 'timestamp') only exists in
      // the TARGET — ES would match nothing, losing every incremental row
      def rawPath(n: String): String = detailed.get(n).map(_._2).getOrElse(n)
      val mappingSchema = StructType(fieldNames.map(n => StructField(n, TypeMapper.esType(detailed(n)._1))))
      val timeField = Incremental.detectTimeField(mappingSchema)
      val updateField = Incremental.detectUpdateTimeField(mappingSchema).filterNot(timeField.contains)

      // target DDL, all-String fidelity (es_to_bytehouse.py:300-336)
      ensureAllStringTable(ch, targetDb, index, fieldNames)
      val table = Flatten.sanitizeName(index)
      val state = StateKey(ClickHouseDdl.lastSyncTimeSqlEs(targetDb, index), (sync, update, rows) =>
        ClickHouseDdl.insertSyncStateSqlEs(targetDb) + " " +
          (Seq(index, table, timeField.getOrElse(""), updateField.getOrElse(""), sync, update)
            .map(ChHttp.sqlLiteral) :+ rows.toString).mkString("(", ", ", ")"))

      val timePath = timeField.map(rawPath).getOrElse("")
      val updatePath = updateField.map(rawPath).getOrElse("")

      syncObject(index, ch, targetDb, chExecutorFactory, insertBatchSize, timeField, updateField, state) {
        (isFull, lastSync, lastUpdate) =>
          // --- watermark-routed source read (server-side filter + sort) --
          val since = if (updateField.isDefined) lastUpdate else ""
          val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
          if (usePit) {
            // ES 8 path: the query rides the PIT body (the incremental sort
            // is supplied as the PIT sortField; full sync orders by _shard_doc)
            val q =
              if (isFull) """{"match_all":{}}"""
              else EsSourceConfig.incrementalQuery(timePath, lastSync, updatePath, since)
            es.pitSearchAfterPages(index, q, esCfg.scrollSize,
              sortField = timePath, keepAlive = esCfg.scrollTimeout)(page => buf ++= page)
          } else {
            val body =
              if (isFull) EsSourceConfig.fullSearchBody(esCfg.scrollSize)
              else EsSourceConfig.incrementalSearchBody(esCfg.scrollSize, timePath, lastSync, updatePath, since)
            es.scrollPages(index, body, esCfg.scrollTimeout)(page => buf ++= page)
          }
          if (buf.isEmpty) None
          else {
            // --- flatten to the all-String row surface -------------------
            // per-batch inference (explicit, uncached): driver-built frames
            // carry no file fingerprint, and an incremental batch may
            // surface fields the full pass never saw
            val raw = EsRestClient.docFrame(spark, buf.toSeq)
            val docSchema = spark.read.json(raw.select("doc").as[String]).schema
            val flat = JsonIngest.parseAndFlatten(spark, raw, "doc", schemaOverride = Some(docSchema))
            // the mapping's spelling of each field: `doc_` hid a digit-leading name from the sanitizer
            val renamed = flat.select(flat.columns.toIndexedSeq.map(c =>
              col(c).as(Flatten.sanitizeName(c.stripPrefix("doc_")))): _*)
            val targetSchema = StructType(
              StructField("_id", StringType) +: fieldNames.map(n => StructField(n, StringType)))
            // an update field without a time field is no watermark
            val marks = timeField.toSeq.flatMap(_ +: updateField.toSeq)
            Some((Incremental.conformToTarget(renamed, targetSchema), marks.map(col)))
          }
      }
    }
    bootstrap(ch, targetDb)
    Variant(esCfg.indexPattern, () => es.catIndices(esCfg.indexPattern), syncIndex)
  }

  /** CH → CH: bootstraps the table-keyed state and lists the source
    * tables once. One table is typed DDL → [[syncObject]] over the paged
    * read, whose incremental WHERE rides every COUNT and page query.
    */
  private[graft] def chVariant(
      spark: SparkSession,
      srcEndpoint: String,
      srcDb: String,
      tgt: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      batchSize: Int,
      insertBatchSize: Int,
      orderKeys: Map[String, String]
  ): Variant = {
    val src = new ChHttpClient(srcEndpoint)
    def syncChTable(srcTable: String): PassResult = {
      val described = src.describeTable(srcDb, srcTable)
      val schema = StructType(described.map { case (n, t) => StructField(n, TypeMapper.chType(t)) })
      tgt.execute(ClickHouseDdl.createTableSql(targetDb, srcTable, schema))
      val timeField = Incremental.detectTimeField(schema)
      // watermark literal at the time COLUMN's native precision (see
      // ClickHouseDdl.watermarkFormat): DateTime64 keeps the micro fix,
      // plain DateTime/Date get literals their parser compares exactly
      val wmFormat = timeField.map(t =>
        ClickHouseDdl.watermarkFormat(described.find(_._1 == t).map(_._2).getOrElse("")))
      // disjoint pages need a deterministic order key (see ChSource
      // class note) — callers override per table, default first column
      val orderKey = orderKeys.getOrElse(srcTable, schema.fieldNames.head)
      syncObject(srcTable, tgt, targetDb, chExecutorFactory, insertBatchSize, timeField, None,
        tableState(targetDb, srcTable)) { (isFull, lastSync, _) =>
        val where = if (isFull) None else timeField.map(t => s"`$t` > ${ChHttp.sqlLiteral(lastSync)}")
        val (df, total) = ChSource.readWithCount(spark, srcEndpoint, srcDb, srcTable, schema,
          batchSize, orderBy = Some(orderKey), where = where)
        if (total == 0L) None
        else Some((df, timeField.map(t => date_format(col(t), wmFormat.get)).toSeq))
      }
    }
    ClickHouseDdl.bootstrapSqlCh(targetDb).foreach(tgt.execute)
    val tables = src.showTables(srcDb)
    Variant(srcDb, () => tables, syncChTable)
  }

  /** Mongo → CH: bootstraps the table-keyed state over the given
    * collections. One collection is [[syncObject]] over the `_id > oid`
    * cursor drain; the target DDL follows the fields the batch surfaced
    * (already sanitized by [[MongoSource.flattenDoc]]).
    */
  private[graft] def mongoVariant(
      spark: SparkSession,
      mongoHost: String,
      mongoPort: Int,
      mongoDb: String,
      collections: Seq[String],
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      batchSize: Int,
      insertBatchSize: Int
  ): Variant = {
    def syncCollection(coll: String): PassResult =
      syncObject(coll, ch, targetDb, chExecutorFactory, insertBatchSize, Some("_id"), None,
        tableState(targetDb, coll)) { (isFull, lastId, _) =>
        val (df, drained) = MongoSource.readWithCount(spark, mongoHost, mongoPort,
          mongoDb, coll, batchSize, if (isFull) None else Some(lastId))
        if (drained == 0L) None
        else {
          val columns = ensureAllStringTable(ch, targetDb, coll, df.columns.filterNot(_ == "_id").toIndexedSeq)
          // insert column order = target order; _timestamp keeps its
          // server-side now64(3) DEFAULT by being absent from the insert
          val targetSchema = StructType(columns.filterNot(_ == "_timestamp").map(StructField(_, StringType)))
          Some((Incremental.conformToTarget(df, targetSchema), Seq(col("_id"))))
        }
      }
    ClickHouseDdl.bootstrapSqlCh(targetDb).foreach(ch.execute)
    Variant(mongoDb, () => collections, syncCollection)
  }
}
