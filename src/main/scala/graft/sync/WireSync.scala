package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.{Incremental, TypeMapper}
import graft.sinks.{BatchedUpsertWriter, ChHttpClient, ClickHouseDdl}
import graft.sources.{EsRestClient, EsSourceConfig, JsonIngest}

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
  * Scale note: pages stream through the driver (the protocol-parity
  * read; bulk movement at warehouse scale is the es-hadoop
  * partition-per-shard reader, [[graft.sources.EsSourceConfig.reader]])
  * but everything after the read runs in tasks. The fetched documents
  * become an RDD-backed frame ([[EsRestClient.docFrame]]), so JSON
  * parsing, flattening and conforming run inside the write job, and
  * every Spark partition drives its own HTTP batch executor, so target
  * throughput scales with executor count. Each synced object costs one
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
  ): Seq[PassResult] = {
    bootstrap(ch, targetDb)
    es.catIndices(esCfg.indexPattern).map { index =>
      syncIndex(spark, es, esCfg, ch, chExecutorFactory, targetDb, index,
        insertBatchSize, usePit)
    }
  }

  /** The reference's actual DEPLOYMENT mode, over live wires:
    * `run_incremental(continuous=True)` (es_to_bytehouse.py:1053-1102)
    * — poll forever (here `maxPasses` times: tests bound it, production
    * passes Int.MaxValue), re-reading `_sync_state` each pass so every
    * pass routes itself, with the reference's per-index fault isolation
    * (its `except Exception: logger.error; continue`, :1088-1094): one
    * index failing mid-pass yields a `Left` for THAT index and the
    * sweep moves on — its state has not advanced, so the next pass
    * resumes it cleanly from the old watermark. `onPassEnd` is the
    * observation hook (logging/alerting in production, the
    * source-mutation driver in tests); `intervalMs` is the poll sleep.
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
  ): Seq[Seq[Either[(String, String), PassResult]]] = {
    bootstrap(ch, targetDb)
    (1 to maxPasses).map { pass =>
      val results = es.catIndices(esCfg.indexPattern).map { index =>
        try Right(syncIndex(spark, es, esCfg, ch, chExecutorFactory, targetDb, index,
          insertBatchSize, usePit))
        catch {
          case scala.util.control.NonFatal(e) => Left((index, e.toString))
        }
      }
      onPassEnd(pass, results)
      if (intervalMs > 0 && pass < maxPasses) Thread.sleep(intervalMs)
      results
    }
  }

  /** One index, one pass: mapping → DDL → watermark-routed read →
    * flatten → conform → batched wire write → state append. Two Spark
    * jobs: schema inference over the batch, then the write, which
    * parses, flattens and conforms in its tasks and returns the
    * batch's time-field maxima; an empty read returns before either.
    */
  def syncIndex(
      spark: SparkSession,
      es: EsRestClient,
      esCfg: EsSourceConfig,
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      index: String,
      insertBatchSize: Int = 1000,
      usePit: Boolean = false
  ): PassResult = {
    import spark.implicits._

    // --- mapping → flattened field names + time-field detection ------
    // (es_to_bytehouse.py:260-294, 467-529): detection runs on the
    // MAPPING's types, not sampled data — an empty index still routes
    val detailed = es.mappingFieldsDetailed(index) // sanitized -> (es type, raw ES path)
    val fields = detailed.map { case (n, (t, _)) => n -> t }
    val fieldNames = fields.keys.toSeq.sorted
    // ES-side queries/sorts must name RAW fields (the reference's
    // original_time_field remap, es_to_bytehouse.py:836-839): the
    // sanitized spelling ('@timestamp' -> 'timestamp') only exists in
    // the TARGET — ES would match nothing, losing every incremental row
    def rawPath(n: String): String = detailed.get(n).map(_._2).getOrElse(n)
    val mappingSchema = StructType(fieldNames.map(n => StructField(n, TypeMapper.esType(fields(n)))))
    val timeField = Incremental.detectTimeField(mappingSchema)
    val updateField = Incremental.detectUpdateTimeField(mappingSchema).filterNot(timeField.contains)

    // --- target DDL, all-String fidelity (es_to_bytehouse.py:300-336) —
    // _timestamp rides its now64(3) server DEFAULT, so inserts skip it
    ch.execute(ClickHouseDdl.createTableSqlAllString(targetDb, index, fieldNames, addTimestamp = true))
    val table = graft.operators.Flatten.sanitizeName(index)
    // wire-side schema evolution (the reference's add_new_columns,
    // es_to_bytehouse.py:994-1023): mapping fields the existing target
    // lacks become ALTERs — otherwise every INSERT after a mapping
    // change references a missing column and the sync wedges forever
    val described = ch.describeTable(targetDb, table).map(_._1).toSet
    Incremental.alterStatements(targetDb, table,
      fieldNames.filterNot(described).map(_ -> "String")).foreach(ch.execute)

    // --- watermark read from the target's _sync_state ----------------
    val wm = ch.query(ClickHouseDdl.lastSyncTimeSqlEs(targetDb, index))
    val (lastSync, lastUpdate) = wm.headOption match {
      case Some(r) => (Option(r(0)).getOrElse(""), Option(r(1)).getOrElse(""))
      case None => ("", "")
    }
    val isFull = timeField.isEmpty || lastSync.isEmpty
    val mode = if (isFull) "full" else "incremental"

    // --- watermark-routed source read (server-side filter + sort) ----
    val body =
      if (isFull) EsSourceConfig.fullSearchBody(esCfg.scrollSize)
      else EsSourceConfig.incrementalSearchBody(
        esCfg.scrollSize, rawPath(timeField.get), lastSync,
        updateField.map(rawPath).getOrElse(""), if (updateField.isDefined) lastUpdate else "")
    val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    if (usePit) {
      // ES 8 path: the query rides the PIT body (the incremental sort
      // is supplied as the PIT sortField; full sync orders by _shard_doc)
      val q =
        if (isFull) """{"match_all":{}}"""
        else EsSourceConfig.incrementalQuery(
          rawPath(timeField.get), lastSync,
          updateField.map(rawPath).getOrElse(""), if (updateField.isDefined) lastUpdate else "")
      es.pitSearchAfterPages(index, q, esCfg.scrollSize,
        sortField = timeField.map(rawPath).getOrElse(""), keepAlive = esCfg.scrollTimeout)(page => buf ++= page)
    } else {
      es.scrollPages(index, body, esCfg.scrollTimeout)(page => buf ++= page)
    }

    if (buf.isEmpty) {
      // nothing moved: state does NOT advance (the reference skips the
      // bookkeeping insert on an empty batch, es_to_bytehouse.py:1087)
      return PassResult(index, table, mode, 0L, 0L, 0L,
        timeField.getOrElse(""), updateField.getOrElse(""), lastSync, lastUpdate)
    }

    // --- flatten to the all-String row surface -----------------------
    // per-batch inference (explicit, uncached): driver-built frames
    // carry no file fingerprint, and an incremental batch may surface
    // fields the full pass never saw
    val raw = EsRestClient.docFrame(spark, buf.toSeq)
    val docSchema = spark.read.json(raw.select("doc").as[String]).schema
    val flat = JsonIngest.parseAndFlatten(spark, raw, "doc", schemaOverride = Some(docSchema))
    val renamed = flat.select(flat.columns.toIndexedSeq.map(c => col(c).as(c.stripPrefix("doc_"))): _*)
    val targetSchema = StructType(
      StructField("_id", StringType) +: fieldNames.map(n => StructField(n, StringType)))
    val conformed = Incremental.conformToTarget(renamed, targetSchema)

    // --- partition-parallel batched INSERT over the wire -------------
    // the write also returns the batch's time-field maxima
    val stats = BatchedUpsertWriter.write(
      conformed, targetDb, table, insertBatchSize, chExecutorFactory,
      maxOf = (timeField.toSeq ++ updateField).map(col))

    // --- advance watermarks (monotone: max of old and batch max) -----
    // A batch with ANY permanently-failed row must NOT advance state:
    // the failed rows' timestamps may be at or below the batch max, so
    // advancing would orphan them forever. Leaving the watermark put
    // means the next pass re-reads the whole failed batch — re-inserts
    // are idempotent on the target (UNIQUE KEY _id), lost rows are not.
    val advanced = stats.failedRows == 0L
    val (newSync, newUpdate) =
      if (!advanced || timeField.isEmpty) (lastSync, lastUpdate)
      else {
        val u = if (updateField.isDefined) stats.maxima(1) else ""
        (Seq(lastSync, stats.maxima(0)).max, Seq(lastUpdate, u).max)
      }
    if (advanced && timeField.isDefined && stats.rows > 0) {
      val values = Seq(index, table, timeField.getOrElse(""), updateField.getOrElse(""),
        newSync, newUpdate).map(graft.sinks.ChHttp.sqlLiteral) :+ stats.rows.toString
      ch.execute(ClickHouseDdl.insertSyncStateSqlEs(targetDb) + " " +
        values.mkString("(", ", ", ")"))
    }
    PassResult(index, table, mode, stats.rows, stats.fallbackRows, stats.failedRows,
      timeField.getOrElse(""), updateField.getOrElse(""), newSync, newUpdate, stats.errors)
  }

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
    * reference warns-and-does. Failed-batch discipline as everywhere:
    * any lost row vetoes the state append. One Spark job per table,
    * the write, which reads each page once and returns the formatted
    * time-column maximum; a zero COUNT skips it.
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
  ): Seq[PassResult] = {
    val src = new ChHttpClient(srcEndpoint)
    ClickHouseDdl.bootstrapSqlCh(targetDb).foreach(tgt.execute)
    src.showTables(srcDb).map { srcTable =>
      syncChTable(spark, src, srcEndpoint, srcDb, srcTable, tgt, chExecutorFactory,
        targetDb, batchSize, insertBatchSize, orderKeys)
    }
  }

  /** The reference CH variant's deployment loop
    * (clickhouse_to_bytehouse.py:418-494 `run_incremental`): the table
    * list resolves ONCE before the loop (a table created mid-run waits
    * for a restart, like the reference), then every pass re-reads the
    * watermark from the target and syncs each table under PER-TABLE
    * fault isolation — one table's failure is a `Left`, the rest of
    * the pass proceeds, and the failed table resumes from its intact
    * watermark next pass.
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
  ): Seq[Seq[Either[(String, String), PassResult]]] = {
    val src = new ChHttpClient(srcEndpoint)
    ClickHouseDdl.bootstrapSqlCh(targetDb).foreach(tgt.execute)
    val tables = src.showTables(srcDb)
    (1 to maxPasses).map { pass =>
      val results = tables.map { srcTable =>
        try Right(syncChTable(spark, src, srcEndpoint, srcDb, srcTable, tgt,
          chExecutorFactory, targetDb, batchSize, insertBatchSize, orderKeys))
        catch { case scala.util.control.NonFatal(e) => Left((srcTable, e.toString)) }
      }
      onPassEnd(pass, results)
      if (intervalMs > 0 && pass < maxPasses) Thread.sleep(intervalMs)
      results
    }
  }

  private def syncChTable(
      spark: SparkSession,
      src: ChHttpClient,
      srcEndpoint: String,
      srcDb: String,
      srcTable: String,
      tgt: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      batchSize: Int,
      insertBatchSize: Int,
      orderKeys: Map[String, String]
  ): PassResult = {
    {
      val described = src.describeTable(srcDb, srcTable)
      val schema = StructType(described.map { case (n, t) => StructField(n, TypeMapper.chType(t)) })
      val table = graft.operators.Flatten.sanitizeName(srcTable)
      tgt.execute(ClickHouseDdl.createTableSql(targetDb, srcTable, schema))
      val timeField = Incremental.detectTimeField(schema)
      // watermark literal at the time COLUMN's native precision (see
      // ClickHouseDdl.watermarkFormat): DateTime64 keeps the micro fix,
      // plain DateTime/Date get literals their parser compares exactly
      val wmFormat = timeField.map(t =>
        ClickHouseDdl.watermarkFormat(described.find(_._1 == t).map(_._2).getOrElse("")))
      val wm = tgt.query(ClickHouseDdl.lastSyncTimeSql(targetDb, table))
      val lastSync = wm.headOption.map(r => Option(r(0)).getOrElse("")).getOrElse("")
      val isFull = timeField.isEmpty || lastSync.isEmpty
      val mode = if (isFull) "full" else "incremental"
      val where =
        if (isFull) None
        else timeField.map(t =>
          s"`$t` > '${lastSync.replace("\\", "\\\\").replace("'", "\\'")}'")
      // disjoint pages need a deterministic order key (see ChSource
      // class note) — callers override per table, default first column
      val orderKey = orderKeys.getOrElse(srcTable, schema.fieldNames.head)
      val (df, total) = graft.sinks.ChSource.readWithCount(spark, srcEndpoint, srcDb, srcTable,
        batchSize, orderBy = Some(orderKey), where = where)
      if (total == 0L) {
        PassResult(srcTable, table, mode, 0L, 0L, 0L, timeField.getOrElse(""), "", lastSync, "")
      } else {
        val stats = BatchedUpsertWriter.write(df, targetDb, table, insertBatchSize, chExecutorFactory,
          maxOf = timeField.map(t => date_format(col(t), wmFormat.get)).toSeq)
        val advanced = stats.failedRows == 0L
        val newSync =
          if (advanced && timeField.isDefined) Seq(lastSync, stats.maxima(0)).max else lastSync
        if (advanced && timeField.isDefined && stats.rows > 0) {
          tgt.execute(ClickHouseDdl.insertSyncStateSqlCh(targetDb) +
            s" (${graft.sinks.ChHttp.sqlLiteral(table)}, ${graft.sinks.ChHttp.sqlLiteral(newSync)}, '', ${stats.rows})")
        }
        PassResult(srcTable, table, mode, stats.rows, stats.fallbackRows, stats.failedRows,
          timeField.getOrElse(""), "", newSync, "", stats.errors)
      }
    }
  }

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
    * row-at-a-time fallback. Same failed-batch discipline as
    * [[syncIndex]]: any permanently-failed row vetoes the state
    * append, so the next pass re-reads the batch (idempotent on the
    * UNIQUE-KEY target) instead of orphaning rows. One Spark job per
    * collection, the write, which returns the newest `_id`; a cursor
    * that drained no document skips it.
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
  ): Seq[PassResult] = {
    ClickHouseDdl.bootstrapSqlCh(targetDb).foreach(ch.execute)
    collections.map { coll =>
      syncMongoCollection(spark, mongoHost, mongoPort, mongoDb, coll, ch,
        chExecutorFactory, targetDb, batchSize, insertBatchSize)
    }
  }

  /** The reference Mongo variant's deployment loop
    * (mongodb_to_bytehouse.py:726-776 `run_incremental`): collections
    * resolve ONCE before the loop, then every pass re-reads each
    * collection's OID watermark from the target and syncs under
    * PER-COLLECTION fault isolation (the reference's try/except inside
    * `for collection_name in collections`) — a dropped cursor or
    * target outage on one collection is a `Left`; the rest of the
    * pass proceeds and the failed collection resumes from its intact
    * watermark next pass.
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
  ): Seq[Seq[Either[(String, String), PassResult]]] = {
    ClickHouseDdl.bootstrapSqlCh(targetDb).foreach(ch.execute)
    (1 to maxPasses).map { pass =>
      val results = collections.map { coll =>
        try Right(syncMongoCollection(spark, mongoHost, mongoPort, mongoDb, coll, ch,
          chExecutorFactory, targetDb, batchSize, insertBatchSize))
        catch { case scala.util.control.NonFatal(e) => Left((coll, e.toString)) }
      }
      onPassEnd(pass, results)
      if (intervalMs > 0 && pass < maxPasses) Thread.sleep(intervalMs)
      results
    }
  }

  private def syncMongoCollection(
      spark: SparkSession,
      mongoHost: String,
      mongoPort: Int,
      mongoDb: String,
      coll: String,
      ch: ChHttpClient,
      chExecutorFactory: () => BatchedUpsertWriter.BatchExecutor,
      targetDb: String,
      batchSize: Int,
      insertBatchSize: Int
  ): PassResult = {
    {
      val table = graft.operators.Flatten.sanitizeName(coll)
      val wm = ch.query(ClickHouseDdl.lastSyncTimeSql(targetDb, table))
      val lastId = wm.headOption.map(r => Option(r(0)).getOrElse("")).getOrElse("")
      val mode = if (lastId.isEmpty) "full" else "incremental"
      val (df, drained) = graft.sources.MongoSource.readWithCount(spark, mongoHost, mongoPort,
        mongoDb, coll, batchSize, if (lastId.isEmpty) None else Some(lastId))
      if (drained == 0L) {
        PassResult(coll, table, mode, 0L, 0L, 0L, "_id", "", lastId, "")
      } else {
        // target DDL from this batch's discovered fields; fields the
        // existing target lacks become wire-side ALTERs (the
        // reference's add_new_columns move)
        val fields = df.columns.filterNot(_ == "_id").toIndexedSeq
        ch.execute(ClickHouseDdl.createTableSqlAllString(targetDb, coll, fields, addTimestamp = true))
        val described = ch.describeTable(targetDb, table).map(_._1)
        val sanitized = fields.map(graft.operators.Flatten.sanitizeName).distinct
        val newCols = sanitized.filterNot(described.toSet)
        Incremental.alterStatements(targetDb, table, newCols.map(_ -> "String")).foreach(ch.execute)
        // insert column order = target order; _timestamp keeps its
        // server-side now64(3) DEFAULT by being absent from the insert
        val targetSchema = StructType(
          (described.filterNot(_ == "_timestamp") ++ newCols).distinct
            .map(n => StructField(n, StringType)))
        val conformed = Incremental.conformToTarget(df, targetSchema)
        val stats = BatchedUpsertWriter.write(conformed, targetDb, table, insertBatchSize,
          chExecutorFactory, maxOf = Seq(col("_id")))
        val advanced = stats.failedRows == 0L
        val newWm = if (advanced) Seq(lastId, stats.maxima(0)).max else lastId
        if (advanced && stats.rows > 0) {
          ch.execute(ClickHouseDdl.insertSyncStateSqlCh(targetDb) +
            s" (${graft.sinks.ChHttp.sqlLiteral(table)}, ${graft.sinks.ChHttp.sqlLiteral(newWm)}, '', ${stats.rows})")
        }
        PassResult(coll, table, mode, stats.rows, stats.fallbackRows, stats.failedRows,
          "_id", "", newWm, "", stats.errors)
      }
    }
  }
}
