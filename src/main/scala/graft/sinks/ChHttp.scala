package graft.sinks

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType, _}

import graft.operators.TypeMapper

/** ClickHouse HTTP-interface client (SQL-over-HTTP on :8123 — the
  * public wire protocol every CH driver can fall back to): POST body
  * is the query, credentials ride the `X-ClickHouse-User`/`-Key`
  * headers, result format is chosen with a `FORMAT` clause. This is
  * the live-protocol pendant of the generated-SQL surface
  * ([[ClickHouseDdl]]) — the same move [[graft.sources.EsRestClient]]
  * made for the source side — so the reference's full
  * clickhouse_to_bytehouse flow (connect → SHOW TABLES → DESCRIBE →
  * CREATE → paged SELECT → batched INSERT → `_sync_state`
  * bookkeeping, ref clickhouse_to_bytehouse.py:106-371) runs over a
  * real socket in tests (`ChLiveParitySpec` / `ChStub`).
  *
  * Config-only state: instances are cheap and `Serializable`, so the
  * distributed read/write paths construct one per Spark partition.
  */
class ChHttpClient(
    val endpoint: String,
    user: String = "",
    password: String = "",
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 300000
) extends Serializable {

  /** POST `sql` and return the raw response body; non-2xx → error
    * with the server's message (CH returns the exception text in the
    * body, which is all a caller needs to decide fallback). Connect /
    * read timeouts are always set (defaults 10s / 300s) — a stalled
    * endpoint must fail the task, not hang the driver or an executor
    * slot forever; the read default is generous because bulk INSERT
    * acks legitimately take minutes on a loaded server.
    */
  def execute(sql: String): String = {
    val conn = new URI(endpoint).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "text/plain; charset=UTF-8")
    if (user.nonEmpty) {
      conn.setRequestProperty("X-ClickHouse-User", user)
      conn.setRequestProperty("X-ClickHouse-Key", password)
      // some proxies strip X- headers; Basic auth is the documented alternative
      val basic = Base64.getEncoder.encodeToString(s"$user:$password".getBytes(StandardCharsets.UTF_8))
      conn.setRequestProperty("Authorization", s"Basic $basic")
    }
    val bytes = sql.getBytes(StandardCharsets.UTF_8)
    conn.setFixedLengthStreamingMode(bytes.length)
    val out = conn.getOutputStream
    try { out.write(bytes); out.flush() } finally out.close()
    val code = conn.getResponseCode
    val stream = if (code >= 200 && code < 300) conn.getInputStream else conn.getErrorStream
    val body =
      if (stream == null) ""
      else try new String(stream.readAllBytes(), StandardCharsets.UTF_8) finally stream.close()
    if (code < 200 || code >= 300)
      throw new java.io.IOException(s"ClickHouse HTTP $code: ${body.take(500)}")
    body
  }

  /** Run a SELECT-ish statement with `FORMAT TabSeparated` appended
    * and decode rows: lines split on `\t`, CH TSV escapes
    * (`\t` `\n` `\r` `\\`) unescaped, `\N` → null cell.
    */
  def query(sql: String): Seq[Array[String]] = {
    val body = execute(s"$sql FORMAT TabSeparated")
    body.split("\n", -1).toIndexedSeq.filter(_.nonEmpty).map { line =>
      line.split("\t", -1).map(ChHttp.unescapeTsv)
    }
  }

  /** Probe the connection — the reference's first statement on both
    * ends (clickhouse_to_bytehouse.py:118,136 `SELECT 1`).
    */
  def ping(): Boolean =
    try query("SELECT 1").headOption.exists(_.headOption.contains("1"))
    catch { case _: Exception => false }

  /** ref clickhouse_to_bytehouse.py:231-234 `get_source_tables`. */
  def showTables(db: String): Seq[String] =
    query(s"SHOW TABLES FROM `$db`").map(_(0))

  /** (name, type) pairs — ref clickhouse_to_bytehouse.py:236-239
    * `get_table_schema`; DESCRIBE emits extra columns
    * (default_type, …) which are ignored like the reference's
    * `(col[0], col[1])` slice.
    */
  def describeTable(db: String, table: String): Seq[(String, String)] =
    query(s"DESCRIBE TABLE `$db`.`$table`").map(r => (r(0), r(1)))

  def count(db: String, table: String): Long =
    query(s"SELECT COUNT(*) FROM `$db`.`$table`").head(0).toLong

  /** DESCRIBE → Spark schema, via [[TypeMapper.chType]]. */
  def sparkSchema(db: String, table: String): StructType =
    StructType(describeTable(db, table).map { case (n, t) => StructField(n, TypeMapper.chType(t)) })
}

/** Wire-format helpers shared by the client, the batch executor and
  * the in-test stub: CH TSV escaping and SQL literal rendering.
  */
object ChHttp {

  def unescapeTsv(cell: String): String =
    if (cell == "\\N") null
    else {
      val sb = new StringBuilder(cell.length)
      var i = 0
      while (i < cell.length) {
        val c = cell.charAt(i)
        if (c == '\\' && i + 1 < cell.length) {
          cell.charAt(i + 1) match {
            case 't' => sb.append('\t'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case other => sb.append(other); i += 2
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  def escapeTsv(cell: String): String =
    if (cell == null) "\\N"
    else cell.flatMap {
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\\' => "\\\\"
      case c => c.toString
    }

  /** One value as a ClickHouse SQL literal for a VALUES tuple.
    * Non-finite floats render as CH's `nan`/`inf`/`-inf` tokens and
    * binary as `unhex('…')` — the bare `toString` fallback would emit
    * `NaN`/`Infinity`/`[B@…` which CH rejects, and a poisoned batch
    * would then fail the row-at-a-time fallback permanently too.
    */
  def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case None => "NULL"
    case Some(x) => sqlLiteral(x)
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case b: Boolean => if (b) "1" else "0"
    case t: java.sql.Timestamp =>
      // micro precision, the DateTime64(6) DDL contract
      "'" + t.toLocalDateTime.format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")) + "'"
    case d: java.sql.Date => "'" + d.toString + "'"
    case d: java.lang.Double if d.isNaN => "nan"
    case d: java.lang.Double if d.isInfinite => if (d > 0) "inf" else "-inf"
    case f: java.lang.Float if f.isNaN => "nan"
    case f: java.lang.Float if f.isInfinite => if (f > 0) "inf" else "-inf"
    case b: Array[Byte] =>
      val sb = new StringBuilder(b.length * 2 + 9)
      sb.append("unhex('")
      b.foreach(x => sb.append(f"${x & 0xff}%02x"))
      sb.append("')").toString
    case a: Array[_] => a.map(sqlLiteral).mkString("[", ",", "]")
    case s: Seq[_] => s.map(sqlLiteral).mkString("[", ",", "]")
    case n => n.toString // numeric/decimal
  }

  /** Parse one TSV cell into the Spark-typed value for `dt` (the
    * source-read decode; null cells stay null).
    */
  def parseCell(cell: String, dt: DataType): Any =
    if (cell == null) null
    else dt match {
      case StringType => cell
      case ByteType => cell.toByte
      case ShortType => cell.toShort
      case IntegerType => cell.toInt
      case LongType => cell.toLong
      case FloatType => cell.toFloat
      case DoubleType => cell.toDouble
      case BooleanType => cell == "1" || cell == "true"
      case _: DecimalType => new java.math.BigDecimal(cell)
      case DateType => java.sql.Date.valueOf(cell)
      case TimestampType | TimestampNTZType =>
        java.sql.Timestamp.valueOf(if (cell.length == 10) cell + " 00:00:00" else cell)
      case other => throw new IllegalArgumentException(s"unsupported read type: $other")
    }
}

/** [[BatchedUpsertWriter.BatchExecutor]] over the HTTP interface: a
  * batch becomes one `INSERT INTO … VALUES (…),(…)` POST — CH's bulk
  * path wants exactly this shape (many rows per statement, one
  * statement per round-trip), and the writer already runs one
  * executor per Spark partition so inserts are partition-parallel.
  * Deterministic server errors propagate as exceptions →
  * BatchedUpsertWriter degrades to row-at-a-time, the reference's
  * insert_batch semantics on the real wire.
  */
class ChHttpBatchExecutor(endpoint: String, user: String = "", password: String = "")
    extends BatchedUpsertWriter.BatchExecutor {
  private lazy val client = new ChHttpClient(endpoint, user, password)
  override def execute(insertSql: String, rows: Seq[Seq[Any]]): Unit = {
    if (rows.isEmpty) return
    val values = rows.map(_.map(ChHttp.sqlLiteral).mkString("(", ", ", ")")).mkString(", ")
    client.execute(s"$insertSql $values")
  }
}

/** Distributed paged read of a ClickHouse table — the Spark-first
  * version of the reference's serial LIMIT/OFFSET loop
  * (clickhouse_to_bytehouse.py:303-306): the driver fetches COUNT +
  * DESCRIBE once, then the page list is parallelized so every Spark
  * task pulls its own page over HTTP concurrently. Pages are ordered
  * by an explicit `ORDER BY` key when given — OFFSET paging without a
  * deterministic order can duplicate/skip rows under concurrent
  * merges, a real CH footgun the reference ignores; callers name a
  * key (any unique column) to make pages disjoint.
  *
  * SNAPSHOT SEMANTICS: the COUNT and the page queries are independent
  * statements with no shared snapshot, so even with ORDER BY, rows
  * inserted/merged BETWEEN page fetches shift offsets and can
  * duplicate or skip rows. [[read]] therefore requires the table to
  * be quiescent for the duration (the reference's nightly-sync
  * contract); when it isn't, use [[readByKeyRange]] — `WHERE key
  * BETWEEN lo AND hi` spans are anchored to VALUES, not positions, so
  * concurrent merges and pre-existing-row churn cannot duplicate or
  * drop a pre-existing row (concurrent INSERTS are still seen or not
  * per-span, the usual non-snapshot read contract).
  *
  * Scale note: at warehouse scale the right source integration is a
  * partitioned JDBC/native-connector read against CH shards; this
  * client is the protocol-parity piece and tops out where one HTTP
  * endpoint does. The page math (disjoint spans, task-parallel fetch)
  * is the part that carries over.
  */
object ChSource {
  /** `where` (a raw SQL predicate, e.g. `` `created_at` > '…' ``)
    * rides both the COUNT and every page query, so an incremental
    * sweep reads ONLY the delta server-side — the reference's
    * `sync_table_incremental` WHERE clause
    * (clickhouse_to_bytehouse.py:330-352). The quiescence/key-range
    * caveats in the class note apply to the filtered row set the same
    * way.
    */
  def read(
      spark: SparkSession,
      endpoint: String,
      db: String,
      table: String,
      batchSize: Int,
      orderBy: Option[String] = None,
      user: String = "",
      password: String = "",
      where: Option[String] = None
  ): DataFrame =
    readWithCount(spark, endpoint, db, table, new ChHttpClient(endpoint, user, password).sparkSchema(db, table),
      batchSize, orderBy, user, password, where)._1

  /** [[read]] over the `schema` the caller already DESCRIBEd, plus the
    * row COUNT the driver fetched to lay out the pages: a caller can
    * tell an empty read without running a job.
    */
  def readWithCount(
      spark: SparkSession,
      endpoint: String,
      db: String,
      table: String,
      schema: StructType,
      batchSize: Int,
      orderBy: Option[String] = None,
      user: String = "",
      password: String = "",
      where: Option[String] = None
  ): (DataFrame, Long) = {
    require(batchSize > 0, "batchSize must be positive")
    val driverClient = new ChHttpClient(endpoint, user, password)
    val cond = where.map(w => s" WHERE $w").getOrElse("")
    val total = driverClient.query(s"SELECT COUNT(*) FROM `$db`.`$table`$cond").head(0).toLong
    val offsets = 0L.until(total, batchSize.toLong)
    val order = orderBy.map(c => s" ORDER BY `$c`").getOrElse("")
    val types = schema.fields.map(_.dataType)
    val rdd = spark.sparkContext
      .parallelize(offsets, math.max(1, offsets.size))
      .mapPartitions { offs =>
        val c = new ChHttpClient(endpoint, user, password)
        offs.flatMap { off =>
          c.query(s"SELECT * FROM `$db`.`$table`$cond$order LIMIT $batchSize OFFSET $off")
            .map { cells =>
              Row.fromSeq(cells.toIndexedSeq.zip(types).map { case (v, t) => ChHttp.parseCell(v, t) })
            }
        }
      }
    (spark.createDataFrame(rdd, schema), total)
  }

  /** Key-range paged read: spans of an INTEGER key column instead of
    * LIMIT/OFFSET — the non-quiescent-table variant (see class note).
    * The driver fetches min/max once, splits [min, max] into
    * value-width spans sized so an even key distribution yields
    * ~`batchSize` rows per span (skewed keys give uneven spans, never
    * wrong rows), and each Spark task pulls its spans with
    * `WHERE key BETWEEN lo AND hi`. Span predicates are disjoint and
    * cover the full range, so the union is exact regardless of how
    * rows move between parts mid-read.
    */
  def readByKeyRange(
      spark: SparkSession,
      endpoint: String,
      db: String,
      table: String,
      keyCol: String,
      batchSize: Int,
      user: String = "",
      password: String = ""
  ): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val driverClient = new ChHttpClient(endpoint, user, password)
    val schema = driverClient.sparkSchema(db, table)
    schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"readByKeyRange needs an integer key column, `$keyCol` is $other")
    }
    val total = driverClient.count(db, table)
    if (total == 0) return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val bounds = driverClient
      .query(s"SELECT min(`$keyCol`), max(`$keyCol`) FROM `$db`.`$table`").head
    val (lo, hi) = (bounds(0).toLong, bounds(1).toLong)
    val nSpans = math.max(1L, (total + batchSize - 1) / batchSize)
    val width = math.max(1L, (hi - lo) / nSpans + 1)
    val spans = Iterator.iterate(lo)(_ + width).takeWhile(_ <= hi)
      .map(s => (s, math.min(s + width - 1, hi))).toSeq
    val types = schema.fields.map(_.dataType)
    val rdd = spark.sparkContext
      .parallelize(spans, spans.size)
      .mapPartitions { sp =>
        val c = new ChHttpClient(endpoint, user, password)
        sp.flatMap { case (a, b) =>
          c.query(s"SELECT * FROM `$db`.`$table` WHERE `$keyCol` BETWEEN $a AND $b ORDER BY `$keyCol`")
            .map { cells =>
              Row.fromSeq(cells.toIndexedSeq.zip(types).map { case (v, t) => ChHttp.parseCell(v, t) })
            }
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
