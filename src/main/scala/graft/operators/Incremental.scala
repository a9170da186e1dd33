package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental-sync machinery: watermark reads, sync-state bookkeeping,
  * UNIQUE-KEY upsert semantics, and schema evolution — the reference's
  * core loop (es_to_bytehouse.py:825-1006, 412-465, 1020-1051)
  * re-expressed as declarative plans.
  *
  * Scale notes: the watermark filter is a plain scan predicate →
  * parquet min/max skipping + partition pruning do the work at 100 TB
  * (no per-row driver loop like the reference's scroll). The upsert is
  * one hash shuffle on the key; AQE handles skewed keys.
  */
object Incremental {

  /** Time-field candidates, highest priority first. Matches the
    * reference list (es_to_bytehouse.py:156) plus `ts` for our event
    * schema; `@` is stripped by sanitization before matching.
    */
  val TimeFieldCandidates: Seq[String] = Seq(
    "timestamp", "ts", "cTime", "StartTime", "ExecutionTime", "doc_time",
    "created_at", "updated_at", "_timestamp"
  )

  /** Case-insensitive: JDBC catalogs routinely fold identifiers to
    * upper case (Derby, Oracle), so `CREATED_AT` must still be
    * recognized as `created_at`. Returns the schema's actual spelling.
    */
  def detectTimeField(schema: StructType): Option[String] = {
    val byLower = schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    TimeFieldCandidates.map(c => Flatten.sanitizeName(c).toLowerCase)
      .collectFirst { case c if byLower.contains(c) => byLower(c) }
  }

  /** Update-time candidates, the reference's UPDATE-aware sync list
    * (es_to_bytehouse.py:500 `detect_update_time_field`).
    */
  val UpdateTimeFieldCandidates: Seq[String] = Seq(
    "updated_at", "updateTime", "update_time", "modifiedAt", "modified_at", "lastModified"
  )

  /** Detect the update-time field (if any) so orchestration can run
    * the OR-watermark incremental read and pick up in-place updates,
    * not just inserts (es_to_bytehouse.py:498-529).
    */
  def detectUpdateTimeField(schema: StructType): Option[String] = {
    val byLower = schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    UpdateTimeFieldCandidates.map(c => Flatten.sanitizeName(c).toLowerCase)
      .collectFirst { case c if byLower.contains(c) => byLower(c) }
  }

  /** Bounded backfill: the mongo variant's `start_date` lower bound on
    * a full or first sync (mongodb_to_bytehouse.py:579-599) — scan
    * only rows at or after the bound. A plain scan predicate →
    * parquet min/max skipping applies.
    */
  def boundedBackfill(df: DataFrame, timeCol: String, startDate: String): DataFrame =
    df.filter(col(timeCol) >= lit(startDate).cast("timestamp"))

  /** One incremental batch: rows strictly newer than the watermark.
    * Comparison happens at microsecond precision (the engine's
    * timestamp grain) so results are reproducible across sources.
    */
  def newerThan(df: DataFrame, timeCol: String, watermark: String): DataFrame =
    df.filter(col(timeCol) > lit(watermark).cast("timestamp"))

  /** Insert-or-update incremental batch: rows whose create time OR
    * update time passed its watermark — the reference's UPDATE-aware
    * sync (es_to_bytehouse.py:843-853: `range(time) OR range(update)`
    * with `minimum_should_match: 1`). Both predicates are scan
    * predicates → pushdown applies to each.
    */
  def newerThanEither(
      df: DataFrame,
      timeCol: String,
      watermark: String,
      updateCol: String,
      updateWatermark: String
  ): DataFrame =
    df.filter(
      col(timeCol) > lit(watermark).cast("timestamp") ||
        col(updateCol) > lit(updateWatermark).cast("timestamp")
    )

  /** Mongo ObjectId creation time: the 24-hex-char `_id`'s first 8 hex
    * chars are big-endian unix SECONDS (the property that makes `_id`
    * a monotone watermark in the reference,
    * mongodb_to_bytehouse.py:579-679).
    */
  def oidTimestampSec(oid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(oid, 1, 8), 16, 10).cast("long")

  /** One incremental batch by string-ordered ObjectId watermark
    * (mongodb_to_bytehouse.py:620-626 `{"_id": {"$gt": ObjectId(last_id)}}`).
    * Fixed-width lowercase hex makes lexicographic order == creation
    * order, so this is a plain scan predicate — min/max skipping and
    * pushdown work exactly like a timestamp watermark.
    */
  def newerThanOid(df: DataFrame, oidCol: String, lastId: String): DataFrame =
    df.filter(col(oidCol) > lit(lastId))

  /** ADD_TIMESTAMP mode (mongodb_to_bytehouse.py:133, 372): stamp each
    * synced row with the sync wall-clock (`_timestamp DateTime64(3)` in
    * the reference DDL, filled at insert time). A literal per batch —
    * no per-row clock reads, stays inside whole-stage codegen.
    */
  def addSyncTimestamp(df: DataFrame, nowUs: Long): DataFrame =
    df.withColumn("_timestamp", timestamp_micros(lit(nowUs)))

  /** The new `_sync_state` row after syncing a batch
    * (es_to_bytehouse.py:412-432): max time seen + row count.
    */
  def syncState(df: DataFrame, tableName: String, timeCol: String): DataFrame =
    df.agg(
      max(unix_micros(col(timeCol).cast("timestamp"))).as("last_sync_us"),
      count(lit(1)).as("n_rows")
    ).select(
      lit(tableName).as("table_name"),
      lit(timeCol).as("time_field"),
      col("last_sync_us"),
      col("n_rows")
    )

  /** UNIQUE-KEY upsert semantics (ENGINE=...UNIQUE KEY _id in the
    * reference, es_to_bytehouse.py:329-334): latest version per key
    * wins, with a total tiebreak order for reproducibility.
    */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Merge an incremental batch into the base table with upsert
    * semantics (insert new keys, replace updated ones).
    */
  def mergeUpsert(
      base: DataFrame,
      delta: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String]
  ): DataFrame =
    latestPerKey(base.unionByName(delta, allowMissingColumns = true), keyCols, orderCols)

  /** A34: SCD Type-2 interval construction — turn a change log into
    * history-keeping dimension rows: one row per (key, value-run) with
    * [valid_from, valid_to) and an is_current flag. The history-keeping
    * alternative to [[latestPerKey]] for sync targets that must answer
    * "what was the value at time t".
    *
    * Consecutive no-op versions (value unchanged) are collapsed first
    * (lag compare, null-safe), then each change row takes the next
    * change's timestamp as its exclusive end. Both windows partition
    * on the same keys, so Catalyst reuses ONE hash exchange for the
    * whole plan — at 100 TB this is a single keyed shuffle plus two
    * in-partition sorted passes.
    */
  def scd2(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCols: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val cur = struct(valueCols.map(col): _*)
    val changes = df
      .withColumn("__prev", lag(cur, 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> cur))
      .drop("__prev")
    val tsCol = orderCols.head
    changes
      .withColumn("valid_from_us", col(tsCol))
      .withColumn("valid_to_us", lead(col(tsCol), 1).over(w))
      .select(keyCols.map(col) ++ valueCols.map(col) ++ Seq(
        col("valid_from_us"), col("valid_to_us"),
        when(col("valid_to_us").isNull, 1L).otherwise(0L).as("is_current")): _*)
  }

  /** A33: snapshot diff — classify every key across two versions of a
    * table as added / removed / changed / unchanged (the CDC-style
    * compare a migration tool runs between sync snapshots, and the
    * "what will this sync do" dry-run report). One keyed shuffle per
    * side, full outer join on the key.
    *
    * `hashed = true` (the 100 TB default) reduces each side's shuffle
    * payload to key + one 8-byte xxhash64 of the compared columns —
    * change detection costs the same as a key-presence check, trading
    * a ~2^-64 per-pair collision (a missed change) for never moving
    * row data. `hashed = false` ships the compared columns and
    * compares values null-safely — exact, for when the comparand is
    * narrow or a miss is unacceptable.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      hashed: Boolean = true
  ): DataFrame = {
    def fp(df: DataFrame, tag: String): DataFrame =
      if (hashed)
        // Spark's hash expressions skip null children (hash unchanged), so
        // xxhash64 over the bare columns would fingerprint old (x, null)
        // and new (null, x) identically — a deterministic miss, not a
        // 2^-64 collision. Interleaving a never-null isnull flag per
        // column makes null POSITION affect the fingerprint.
        df.select(keyCols.map(col) :+ xxhash64(
          compareCols.flatMap(c => Seq(isnull(col(c)).cast("int"), col(c))): _*).as(s"__fp_$tag"): _*)
      else
        df.select(keyCols.map(col) :+ struct(compareCols.map(col): _*).as(s"__fp_$tag"): _*)
    val o = fp(oldDf, "o").withColumn("__in_o", lit(1))
    val n = fp(newDf, "n").withColumn("__in_n", lit(1))
    o.join(n, keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("__in_o").isNull, "added")
          .when(col("__in_n").isNull, "removed")
          .when(!(col("__fp_o") <=> col("__fp_n")), "changed")
          .otherwise("unchanged").as("change"): _*)
  }

  /** Incremental additive-rollup maintenance: a persisted keyed
    * partial-aggregate table (sums/counts per group) absorbs a new
    * batch by unioning the batch's OWN partials and re-aggregating on
    * the same keys — history is summarized by its partials and NEVER
    * rescanned. Sound for any commutative-monoid measure (sum, count,
    * min, max; pair with [[distinctSketch]] for distincts). At 100 TB
    * this is the difference between an O(|batch|) nightly rollup
    * refresh and an O(|corpus|) one; the merge shuffles only
    * |groups| + |batch-groups| rows, not data.
    */
  def mergeRollup(
      state: DataFrame,
      batchPartials: DataFrame,
      keyCols: Seq[String],
      addCols: Seq[String]
  ): DataFrame = {
    val sums = addCols.map(c => sum(col(c)).as(c))
    state.unionByName(batchPartials)
      .groupBy(keyCols.map(col): _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** Incremental distinct-count state: one DataSketches HLL sketch
    * per synced batch, stored beside the sync state. At 100 TB,
    * "distinct users all-time" must never rescan history — each batch
    * contributes a few-KB binary sketch, and [[estimateDistinct]]
    * unions the sketches (HLL union is lossless for set-union: merging
    * per-batch sketches equals sketching the union, tested). The
    * reference reports per-pass row counts; this is the cardinality
    * pendant those reports imply.
    */
  def distinctSketch(df: DataFrame, keyCol: String, table: String, batchUs: Long): DataFrame =
    df.agg(hll_sketch_agg(col(keyCol)).as("sketch"))
      .select(lit(table).as("table_name"), lit(batchUs).as("batch_us"), col("sketch"))

  /** All-time distinct estimate per table from accumulated batch
    * sketches — a metadata-sized aggregation, never a data scan.
    */
  def estimateDistinct(sketches: DataFrame): DataFrame =
    sketches
      .groupBy(col("table_name"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_estimate"),
        count(lit(1)).as("n_batches"))
      .orderBy(col("table_name"))

  /** Project a batch onto the TARGET table's schema before the
    * insert — the reference loads the target's DESCRIBE and writes
    * only shared columns, in target order, so a source-side extra
    * column can't break the INSERT and a target-side extra column
    * lands NULL (clickhouse_to_bytehouse.py:264-272 + per-row filter
    * in sync_table_full). Takes the full target SCHEMA, not names:
    * a missing column must be a TYPED null (an untyped NullType
    * column is rejected by every sink at write time), and matching is
    * case-insensitive like Spark's own resolver (a case-differing
    * source column must conform, not silently null out). Source
    * extras are dropped (pair with [[newFields]]/[[alterStatements]]
    * to evolve the target first when they should be kept).
    */
  def conformToTarget(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.map(c => c.toLowerCase -> c).toMap
    df.select(target.fields.toIndexedSeq.map { f =>
      have.get(f.name.toLowerCase) match {
        case Some(src) => col(src).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** Schema evolution: fields present in the incoming batch but not in
    * the target — the ALTER TABLE plan (es_to_bytehouse.py:1043-1051
    * `detect_new_fields_from_batch` + 1020-1041 `add_new_columns`).
    */
  def newFields(target: StructType, incoming: StructType): Seq[(String, String)] = {
    val have = target.fieldNames.map(Flatten.sanitizeName).toSet
    incoming.fields.toIndexedSeq
      .filterNot(f => have.contains(Flatten.sanitizeName(f.name)))
      .map(f => Flatten.sanitizeName(f.name) -> TypeMapper.clickhouseType(f.dataType))
  }

  /** ALTER statements for the new fields, ClickHouse dialect. */
  def alterStatements(db: String, table: String, fields: Seq[(String, String)]): Seq[String] =
    fields.map { case (name, chType) =>
      s"ALTER TABLE `$db`.`$table` ADD COLUMN `$name` Nullable($chType)"
    }

  /** A35: apply a CDC change stream (I/U/D with a sequence column) to
    * a base snapshot — the Debezium/binlog-shaped merge that rounds
    * out the sync core: [[mergeUpsert]] handles inserts/updates, this
    * adds DELETE semantics. Per key the HIGHEST-seq change wins
    * (ties impossible: seq is the log offset, unique by contract);
    * a final 'D' removes the key even if it exists in base, a final
    * 'I' or 'U' materializes the change payload (upsert semantics —
    * 'I' on an existing key and 'U' on a missing key both take the
    * change row, the standard idempotent-replay convention so a
    * reordered/replayed log converges to the same snapshot). Base
    * rows with no change pass through untouched.
    *
    * Plan: one keyed window over changes (latest per key — the
    * [[latestPerKey]] shape), one full-outer keyed join against
    * base; both hash-partition on the key, AQE splits hot keys. At
    * 100 TB the base side is the lake table: the join prunes to
    * touched partitions when the caller pre-filters by the change
    * key range (same discipline as [[snapshotDiff]]).
    */
  def cdcApply(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      seqCol: String,
      opCol: String,
      payloadCols: Seq[String]
  ): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    val last = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(keyCol) +: col(opCol).as("__op") +: payloadCols.map(c => col(c).as(s"__c_$c")): _*)
    base.alias("b")
      .join(last.alias("c"), Seq(keyCol), "full_outer")
      .filter(col("__op").isNull || col("__op") =!= "D")
      .select(
        col(keyCol) +:
          when(col("__op").isNotNull, lit("cdc")).otherwise(lit("base")).as("src") +:
          payloadCols.map(c =>
            when(col("__op").isNotNull, col(s"__c_$c")).otherwise(col(s"b.$c")).as(c)): _*)
      .orderBy(keyCol)
  }
}
