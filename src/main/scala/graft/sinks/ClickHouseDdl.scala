package graft.sinks

import org.apache.spark.sql.types.StructType

import graft.operators.{Flatten, TypeMapper}

/** Target-DDL + upsert-INSERT generation for a ClickHouse-family sink
  * (the reference's `generate_create_table_sql`,
  * es_to_bytehouse.py:300-336, and batched INSERT,
  * es_to_bytehouse.py:675-694).
  *
  * Single-line DDL, deterministic column order (schema order), every
  * data column Nullable — source docs may omit any field.
  */
object ClickHouseDdl {

  /** The very first statement the reference runs against a fresh
    * target (es_to_bytehouse.py:401-411 `create_database`): the
    * database must exist before any table DDL.
    */
  def createDatabaseSql(db: String): String =
    s"CREATE DATABASE IF NOT EXISTS `${Flatten.sanitizeName(db)}`"

  /** Fresh-target bootstrap in the reference's order: database first,
    * then the `_sync_state` bookkeeping table
    * (es_to_bytehouse.py:401-427). Execute each in sequence before the
    * first per-table DDL.
    */
  def bootstrapSql(db: String, stateTable: String = "_sync_state"): Seq[String] =
    Seq(createDatabaseSql(db), syncStateTableSql(db, stateTable))

  def createTableSql(db: String, table: String, schema: StructType): String = {
    val cols = schema.fields
      .map(f => s"`${Flatten.sanitizeName(f.name)}` Nullable(${TypeMapper.clickhouseType(f.dataType)})")
      .mkString(", ")
    s"CREATE TABLE IF NOT EXISTS `$db`.`${Flatten.sanitizeName(table)}` ($cols) " +
      "ENGINE = MergeTree() ORDER BY tuple()"
  }

  /** Upsert-capable variant: ReplacingMergeTree keyed on the id column
    * keeps the latest version per key — the ClickHouse-native
    * equivalent of the reference's `UNIQUE KEY _id`.
    */
  def createUpsertTableSql(db: String, table: String, schema: StructType, keyCol: String, versionCol: String): String = {
    val cols = schema.fields
      .map { f =>
        val nullable = f.name != keyCol && f.name != versionCol
        val t = TypeMapper.clickhouseType(f.dataType)
        s"`${Flatten.sanitizeName(f.name)}` ${if (nullable) s"Nullable($t)" else t}"
      }
      .mkString(", ")
    s"CREATE TABLE IF NOT EXISTS `$db`.`${Flatten.sanitizeName(table)}` ($cols) " +
      s"ENGINE = ReplacingMergeTree(`$versionCol`) ORDER BY (`$keyCol`)"
  }

  /** Reference-fidelity DDL (es_to_bytehouse.py:300-336): `_id` key
    * column first, optional `_source` (STORE_SOURCE mode), a
    * `_timestamp DateTime64(3)` sync-time column with a now() default,
    * then EVERY data column as Nullable(String) — the reference's
    * all-String data model (es_to_bytehouse.py:166-188 maps every ES
    * type to String to sidestep conversion failures). Upsert via
    * UNIQUE KEY on `_id`, exactly the reference's engine clause.
    */
  def createTableSqlAllString(
      db: String,
      table: String,
      fieldNames: Seq[String],
      storeSource: Boolean = false,
      addTimestamp: Boolean = true
  ): String = {
    val meta = Seq("`_id` String") ++
      (if (storeSource) Seq("`_source` String") else Nil) ++
      (if (addTimestamp) Seq("`_timestamp` DateTime64(3) DEFAULT now64(3)") else Nil)
    val reserved = Set("_id", "_source", "_timestamp")
    val data = fieldNames.map(Flatten.sanitizeName).distinct
      .filterNot(reserved.contains)
      .map(f => s"`$f` Nullable(String)")
    s"CREATE TABLE IF NOT EXISTS `$db`.`${Flatten.sanitizeName(table)}` " +
      s"(${(meta ++ data).mkString(", ")}) " +
      "ENGINE = CnchMergeTree() ORDER BY tuple() UNIQUE KEY _id"
  }

  /** The reference's `_sync_state` table DDL, ES-variant shape
    * (es_to_bytehouse.py:412-427): per-index sync bookkeeping with
    * STRING watermarks (times compare lexicographically in ISO form),
    * dual create/update watermark columns defaulting empty, and an
    * `updated_at` row version — newest row per index wins on read.
    * Emitted single-line like the rest of this generator.
    */
  def syncStateTableSql(db: String, table: String = "_sync_state"): String =
    s"CREATE TABLE IF NOT EXISTS `$db`.`${Flatten.sanitizeName(table)}` (" +
      "`index_name` String, `table_name` String, `time_field` String, " +
      "`update_time_field` String DEFAULT '', `last_sync_time` String, " +
      "`last_update_time` String DEFAULT '', `last_sync_count` Int64, " +
      "`updated_at` DateTime64(3) DEFAULT now64(3)) " +
      "ENGINE = CnchMergeTree() ORDER BY (index_name)"

  /** The CH-flow variant of the `_sync_state` table
    * (clickhouse_to_bytehouse.py:158-173): keyed by TABLE name (not
    * index), with an unsigned row count and a server-defaulted
    * `sync_time` row version — newest row per table wins via
    * `max()` on read ([[lastSyncTimeSql]]).
    */
  def syncStateTableSqlCh(db: String, table: String = "_sync_state"): String =
    s"CREATE TABLE IF NOT EXISTS `$db`.`${Flatten.sanitizeName(table)}` (" +
      "`table_name` String, `last_sync_time` String, " +
      "`last_update_time` String DEFAULT '', `sync_count` UInt64, " +
      "`sync_time` DateTime DEFAULT now()) " +
      "ENGINE = CnchMergeTree() ORDER BY (`table_name`, `sync_time`)"

  /** CH-flow bootstrap: database, then the CH-variant state table
    * (clickhouse_to_bytehouse.py:139-149 connect_target order).
    */
  def bootstrapSqlCh(db: String, stateTable: String = "_sync_state"): Seq[String] =
    Seq(createDatabaseSql(db), syncStateTableSqlCh(db, stateTable))

  /** Watermark read (clickhouse_to_bytehouse.py:178-186
    * `get_last_sync_time`): max over BOTH watermark columns — string
    * watermarks compare lexicographically in ISO form, so max() is
    * the newest row without needing the `sync_time` version column.
    */
  def lastSyncTimeSql(db: String, table: String, stateTable: String = "_sync_state"): String =
    s"SELECT max(`last_sync_time`), max(`last_update_time`) FROM `$db`.`${Flatten.sanitizeName(stateTable)}` " +
      s"WHERE `table_name` = ${ChHttp.sqlLiteral(table)}"

  /** State append (clickhouse_to_bytehouse.py:197-205
    * `update_sync_state`) — INSERT-only bookkeeping, never UPDATE:
    * MergeTree-family tables want append + newest-wins reads.
    */
  def insertSyncStateSqlCh(db: String, stateTable: String = "_sync_state"): String =
    insertSql(db, stateTable, Seq("table_name", "last_sync_time", "last_update_time", "sync_count"))

  /** ES-variant watermark read — the dual-watermark pendant of
    * [[lastSyncTimeSql]] against the INDEX-keyed state table
    * ([[syncStateTableSql]]): max over both STRING watermark columns
    * (ISO times compare lexicographically), restricted to one index
    * (es_to_bytehouse.py:429-460 `get_last_sync_time` /
    * `get_last_update_time`).
    */
  def lastSyncTimeSqlEs(db: String, index: String, stateTable: String = "_sync_state"): String =
    s"SELECT max(`last_sync_time`), max(`last_update_time`) FROM `$db`.`${Flatten.sanitizeName(stateTable)}` " +
      s"WHERE `index_name` = ${ChHttp.sqlLiteral(index)}"

  /** ES-variant state append (es_to_bytehouse.py:740-760
    * `update_sync_state`): full bookkeeping row — index, target table,
    * both detected time fields, both watermarks, row count; the
    * `updated_at` version column takes its server default.
    */
  def insertSyncStateSqlEs(db: String, stateTable: String = "_sync_state"): String =
    insertSql(db, stateTable, Seq(
      "index_name", "table_name", "time_field", "update_time_field",
      "last_sync_time", "last_update_time", "last_sync_count"))

  def insertSql(db: String, table: String, columns: Seq[String]): String = {
    val cols = columns.map(c => s"`${Flatten.sanitizeName(c)}`").mkString(", ")
    s"INSERT INTO `$db`.`${Flatten.sanitizeName(table)}` ($cols) VALUES"
  }

  private val Dt64Precision = """DateTime64\((\d+)""".r

  /** Spark `date_format` pattern for a watermark literal at the time
    * COLUMN's native precision, derived from its DESCRIBE type. The
    * reference's seconds-precision `%Y-%m-%d %H:%M:%S` watermark
    * (clickhouse_to_bytehouse.py:318-323) silently re-reads or misses
    * sub-second rows on a DateTime64 column; a blanket 6-digit literal
    * fixes that but hands a fractional literal to a plain DateTime
    * column, where server-side parsing of the fraction is
    * version-dependent. Formatting FROM the described type gives each
    * column an exact, unambiguous literal: micros (capped at Spark's
    * timestamp grain) for DateTime64(p), whole seconds for DateTime,
    * bare dates for Date — and `>` at the column's own precision is
    * lossless by construction.
    */
  def watermarkFormat(chType: String): String =
    Dt64Precision.findFirstMatchIn(chType) match {
      case Some(m) =>
        val p = math.min(m.group(1).toInt, 6) // Spark timestamps carry micros
        "yyyy-MM-dd HH:mm:ss" + (if (p > 0) "." + "S" * p else "")
      case None if chType.contains("DateTime") => "yyyy-MM-dd HH:mm:ss"
      case None if chType.contains("Date") => "yyyy-MM-dd"
      // String-typed time columns keep the engine's micro grain
      case None => "yyyy-MM-dd HH:mm:ss.SSSSSS"
    }
}
