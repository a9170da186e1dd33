package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Source-catalog discovery: list the tables available under a data
  * directory and select them with comma-separated wildcard patterns.
  *
  * Mirrors the reference's index/table/collection discovery
  * (es_to_bytehouse.py:239-258 `get_es_indices`,
  * clickhouse_to_bytehouse.py:83-99 `match_tables`,
  * mongodb_to_bytehouse.py:136-152 `match_collections`): wildcard `*`
  * and `?`, comma-separated alternatives, system objects (leading `.`
  * or `_`) excluded.
  *
  * Listing is filesystem-metadata only (one namenode RPC per dir) —
  * no data is read, so this scales to any table count.
  */
object Catalog {

  /** List table names (parquet basenames) under `dir`, excluding
    * system entries (leading '.' or '_'), sorted.
    */
  def listTables(spark: SparkSession, dir: String): Seq[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path)
      .toIndexedSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .sorted
  }

  /** fnmatch-style pattern: `*` any run, `?` any char; commas separate
    * alternative patterns. Everything else is literal.
    */
  def matchesPattern(name: String, pattern: String): Boolean =
    pattern.split(",").map(_.trim).filter(_.nonEmpty).exists { p =>
      val regex = p.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
        case c => c.toString
      }
      name.matches(regex)
    }

  def selectTables(spark: SparkSession, dir: String, pattern: String): Seq[String] =
    listTables(spark, dir).filter(matchesPattern(_, pattern))

  /** Load one source table. The `events` stream table's `ts` arrives
    * in whichever physical form the upstream writer chose —
    * TIMESTAMP(NANOS) (Spark only reads it as a raw Long via
    * `nanosAsLong`), TIMESTAMP(MICROS) without UTC adjustment (reads
    * as TIMESTAMP_NTZ), or UTC-adjusted micros (reads as TIMESTAMP) —
    * so the loader dispatches on the scanned type and normalizes every
    * form to one session-TZ micro-precision TimestampType column.
    * Nanos use exact integer division (never double math — ns epochs
    * exceed 2^53); the NTZ cast is value-identity under the session's
    * UTC zone.
    *
    * Reads go through [[readParquet]]: a load pays one footer job per
    * table, per data version, per session; later loads of unchanged
    * files run no job until the query does.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else readParquet(spark, s"$dir/$name.parquet")

  /** Parquet schemas inferred by [[readParquet]]. */
  private val parquetSchemas = new SchemaCache[org.apache.spark.sql.types.StructType]

  private[graft] def schemaCacheSize: Int = parquetSchemas.size

  /** `spark.read.parquet(path)`, minus the footer job on a warm load.
    * A read without a schema runs a one-task Spark job to read a
    * footer. This lists the path's files on the driver instead (one
    * recursive `listFiles`, no job) and keys the inferred schema on
    * the path, the sorted (file, length, mtime) listing and the
    * session's explicitly set parquet confs: `nanosAsLong` changes a
    * nanos column's type. A hit reads with the cached schema and runs
    * no job; a miss reads as before and stores the frame's schema.
    * Rewritten files change the listing, so a rewrite re-infers. Glob
    * paths and listing failures (a missing path) take the plain read,
    * so errors stay Spark's own.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    listingKey(spark, path).fold(spark.read.parquet(path)) { key =>
      parquetSchemas.get(key) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          parquetSchemas.put(key, df.schema)
          df
      }
    }

  private def listingKey(spark: SparkSession, path: String): Option[String] =
    if (path.exists("*?[{\\".contains(_))) None
    else
      try {
        val p = new Path(path)
        val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
        val files = scala.collection.mutable.ArrayBuffer[String]()
        while (it.hasNext) {
          val st = it.next()
          files += s"${st.getPath}@${st.getModificationTime}:${st.getLen}"
        }
        val confs = spark.conf.getAll.collect {
          case (k, v) if k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") =>
            s"$k=$v"
        }
        if (files.isEmpty) None
        else Some(path + "#" + md5Hex((confs.toSeq.sorted ++ files.sorted).mkString("|")))
      } catch { case NonFatal(_) => None }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Source-format matrix: one loader for the lake formats a sync
    * source can arrive in — parquet / ORC / CSV / JSONL — returning
    * the same downstream DataFrame surface (`autoSyncTables`' source
    * thunk composes with any of these, like it does with the ES and
    * JDBC surfaces). Pass `schemaDdl` for text formats: a CSV/JSON
    * read without a schema pays a full inference scan and infers
    * strings/doubles — at 100 TB the schema IS part of the contract.
    */
  def loadFormat(
      spark: SparkSession,
      path: String,
      format: String,
      schemaDdl: Option[String] = None
  ): DataFrame = {
    val r0 = spark.read
    val r = schemaDdl.map(r0.schema).getOrElse(r0)
    format match {
      case "parquet"        => r.parquet(path)
      case "orc"            => r.orc(path)
      case "csv"            =>
        // escape + multiLine mirror Spark's own CSV writer defaults so a
        // loadFormat round-trip survives embedded quotes and newlines
        r.option("header", "true").option("escape", "\"")
          .option("multiLine", "true").csv(path)
      case "jsonl" | "json" => r.json(path)
      case other => throw new IllegalArgumentException(
        s"unsupported source format: $other (parquet|orc|csv|jsonl)")
    }
  }

  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = loadEventsRaw(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Events with `ts` as the raw nanosecond Long — the form incremental
    * readers filter on, because a predicate on the *raw* column reaches
    * the parquet scan (min/max skipping + partition pruning), while one
    * on the converted timestamp would not. Like [[load]], it pays one
    * footer job per table, per data version, per session.
    */
  def loadEventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    readParquet(spark, s"$dir/events.parquet")
  }

  /** Fingerprint of a frame's underlying data files (path, mtime,
    * length per file, MD5'd) — cache keys built from a logical plan
    * string alone go stale when files change at the same path (a
    * long-running sync would silently keep a pre-evolution schema or
    * pre-update centroids). Driver-side metadata only: one file-status
    * RPC per input file. Empty for purely in-memory frames (their plan
    * string already pins the data).
    */
  def dataFingerprint(spark: SparkSession, df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) ""
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val listing = files.sorted.map { f =>
        val p = new Path(f)
        val st =
          try {
            val s = p.getFileSystem(conf).getFileStatus(p)
            s.getModificationTime.toString + ":" + s.getLen
          } catch { case _: java.io.IOException => "?" }
        f + "@" + st
      }.mkString("|")
      md5Hex(listing)
    }
  }

  /** Build-once gate for an artifact persisted under `dir` (an index, a
    * staged payload): runs `build` only when the fingerprint file in
    * `dir` does not hold [[dataFingerprint]] of `source` followed by
    * `params`, then writes that fingerprint — after the build
    * succeeded, so a failed build is retried. A rewritten source or
    * changed parameters rebuild; an unchanged one skips. Returns
    * whether it built.
    */
  private[graft] def buildOnce(spark: SparkSession, source: DataFrame, dir: String, params: String)(
      build: => Unit): Boolean = {
    val fp = dataFingerprint(spark, source) + params
    val fpPath = new Path(s"$dir/_FINGERPRINT")
    val fs = fpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current =
      if (fs.exists(fpPath)) {
        val buf = new Array[Byte](fs.getFileStatus(fpPath).getLen.toInt)
        val in = fs.open(fpPath)
        try { in.readFully(buf); Some(new String(buf, "UTF-8")) }
        finally in.close()
      } else None
    if (current.contains(fp)) false
    else {
      build
      val out = fs.create(fpPath, true)
      try out.write(fp.getBytes("UTF-8"))
      finally out.close()
      true
    }
  }

  /** Incremental batch of events strictly newer than `watermark`
    * (micro precision), with the time predicate pushed down to the
    * parquet scan in the scan's NATIVE type — raw-nanos space for
    * TIMESTAMP(NANOS) sources (µs(ts) > W ⟺ ts_ns > W*1000 + 999),
    * an NTZ/timestamp literal for micros sources. Filtering the raw
    * column (never a converted one) is what lets min/max row-group
    * skipping see the predicate.
    */
  def loadEventsSince(spark: SparkSession, dir: String, watermark: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wmLdt = java.time.LocalDateTime.parse(watermark.replace(" ", "T"))
    val wmInstant = wmLdt.toInstant(java.time.ZoneOffset.UTC)
    val wmMicros = wmInstant.getEpochSecond * 1000000L + wmInstant.getNano / 1000L
    val raw = loadEventsRaw(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw
          .filter(col("ts") > lit(wmMicros * 1000L + 999L))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw
          .filter(col("ts") > lit(wmLdt))
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ =>
        raw.filter(col("ts") > timestamp_micros(lit(wmMicros)))
    }
  }
}
