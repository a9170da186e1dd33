package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** ClickHouse HTTP-interface fake: SQL over POST, TabSeparated out.
  *
  * It understands the statements the sync job issues: `SELECT 1`,
  * `CREATE DATABASE/TABLE IF NOT EXISTS`, `SHOW TABLES`, `DESCRIBE
  * TABLE`, `COUNT(*)` and paged star-SELECTs (optional `ORDER BY`),
  * the `_sync_state` watermark read and multi-row `VALUES` inserts:
  * what a full pass sends. Anything else is answered 500.
  *
  * A table created with `UNIQUE KEY <col>` keeps a hash index on that
  * column, so an insert replaces the row with the same key in O(1).
  * Each table has its own lock; the fake keeps counters instead of a
  * log of bodies. `onInsert` sees every landed row with its column
  * names, for latency accounting.
  */
final class ChFake(threads: Int) extends HttpFake(threads) {
  import ChFake._

  final class Table(val schema: Vector[(String, String)], val uniqueKey: Option[String]) {
    val rows = mutable.ArrayBuffer[Array[String]]()
    val keyIndex = new java.util.HashMap[String, Integer]()
    /** Sorted views served to paged reads, by `ORDER BY` column; dropped on any change. */
    val views = mutable.HashMap[Option[String], IndexedSeq[Array[String]]]()
    def col(name: String): Int = {
      val i = schema.indexWhere(_._1 == name)
      require(i >= 0, s"Missing column $name"); i
    }
  }

  val databases: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val tables = new ConcurrentHashMap[(String, String), Table]()
  /** Rows returned by paged star-SELECTs (the source-read volume). */
  val rowsServed = new LongAdder
  val insertBytes = new LongAdder
  @volatile var onInsert: (String, String, IndexedSeq[String], Array[String]) => Unit = (_, _, _, _) => ()

  def table(db: String, t: String): Table =
    Option(tables.get((db, t))).getOrElse(throw new IllegalArgumentException(s"Table $db.$t does not exist"))

  def dropDatabase(db: String): Unit = {
    databases.remove(db)
    tables.keySet.asScala.filter(_._1 == db).foreach(tables.remove)
  }

  def seed(db: String, t: String, schema: Seq[(String, String)], rows: Iterator[Array[String]]): Unit = {
    databases.add(db)
    val tb = new Table(schema.toVector, None)
    tb.rows ++= rows
    tables.put((db, t), tb)
  }

  override protected def handle(method: String, path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val sql = new String(body, UTF_8).trim
    try (200, dispatch(sql.stripSuffix("FORMAT TabSeparated").trim).getBytes(UTF_8))
    catch { case e: Exception => (500, s"Code: 62. DB::Exception: ${e.getMessage}".getBytes(UTF_8)) }
  }

  private def dispatch(sql: String): String =
    if (sql.startsWith("INSERT INTO ")) { insertBytes.add(sql.length); insert(sql) }
    else sql match {
      case "SELECT 1" => "1\n"
      case CreateDb(db) => databases.add(db); ""
      case CreateTable(db, t, colsDef, tail) =>
        if (!databases.contains(db)) throw new IllegalArgumentException(s"Database $db does not exist")
        val cols = splitTopLevel(colsDef).map { cd =>
          val m = ColDef.findFirstMatchIn(cd).getOrElse(throw new IllegalArgumentException(s"bad column def: $cd"))
          (m.group(1), m.group(2).split(" DEFAULT ")(0).trim)
        }
        val key = UniqueKey.findFirstMatchIn(tail).map(_.group(1))
        tables.putIfAbsent((db, t), new Table(cols.toVector, key))
        ""
      case ShowTables(db) =>
        tables.keySet.asScala.toSeq.filter(_._1 == db).map(_._2).sorted.map(_ + "\n").mkString
      case Describe(db, t) =>
        val tb = table(db, t)
        tb.synchronized(tb.schema).map { case (n, ty) => s"$n\t$ty\n" }.mkString
      case CountStar(db, t) =>
        s"${view(table(db, t), None).size}\n"
      case SelectPage(db, t, order, limit, offset) =>
        val rows = view(table(db, t), Option(order))
        val page = rows.slice(offset.toInt, offset.toInt + limit.toInt)
        rowsServed.add(page.size)
        tsv(page)
      case MaxState(c1, c2, db, t, kc, kv) =>
        val tb = table(db, t)
        tb.synchronized {
          val (ki, i1, i2) = (tb.col(kc), tb.col(c1), tb.col(c2))
          val key = unquote(kv)
          val hits = tb.rows.filter(r => r(ki) == key)
          def mx(i: Int): String = hits.flatMap(r => Option(r(i))).maxOption.getOrElse("")
          s"${escapeTsv(mx(i1))}\t${escapeTsv(mx(i2))}\n"
        }
      case other => throw new IllegalArgumentException(s"unhandled statement: ${other.take(120)}")
    }

  private def view(tb: Table, order: Option[String]): IndexedSeq[Array[String]] =
    tb.synchronized {
      tb.views.getOrElseUpdate(order, {
        val rows = tb.rows.toIndexedSeq
        order.fold(rows) { c => val i = tb.col(c); rows.sortBy(r => Option(r(i)).getOrElse("")) }
      })
    }

  private def insert(sql: String): String = {
    val m = InsertHead.findPrefixMatchOf(sql).getOrElse(throw new IllegalArgumentException("bad INSERT"))
    val (db, t) = (m.group(1), m.group(2))
    val cols = m.group(3).split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toIndexedSeq
    val tuples = parseTuples(sql, m.end)
    val tb = table(db, t)
    tb.synchronized {
      val idx = cols.map(tb.col)
      val ki = tb.uniqueKey.map(tb.col)
      tuples.foreach { tup =>
        require(tup.length == cols.size, s"arity mismatch: ${tup.length} vs ${cols.size}")
        val row = new Array[String](tb.schema.size)
        var j = 0
        while (j < idx.size) { row(idx(j)) = tup(j); j += 1 }
        ki.flatMap(i => Option(row(i))) match {
          case Some(k) =>
            val at = tb.keyIndex.get(k)
            if (at == null) { tb.keyIndex.put(k, tb.rows.size); tb.rows += row }
            else tb.rows(at.intValue) = row
          case None => tb.rows += row
        }
      }
      if (tuples.nonEmpty) tb.views.clear()
    }
    tuples.foreach(tup => onInsert(db, t, cols, tup))
    ""
  }
}

object ChFake {
  private val ident = "`([^`]+)`"
  private val lit = "'((?:[^'\\\\]|\\\\.)*)'"
  private val CreateDb = s"CREATE DATABASE IF NOT EXISTS $ident".r
  private val CreateTable = s"(?s)CREATE TABLE IF NOT EXISTS $ident\\.$ident \\((.*)\\) (ENGINE = .*)".r
  private val ColDef = s"^\\s*$ident (.*)$$".r
  private val UniqueKey = "UNIQUE KEY `?(\\w+)`?".r
  private val ShowTables = s"SHOW TABLES FROM $ident".r
  private val Describe = s"DESCRIBE TABLE $ident\\.$ident".r
  private val CountStar = s"SELECT COUNT\\(\\*\\) FROM $ident\\.$ident".r
  private val SelectPage = s"SELECT \\* FROM $ident\\.$ident(?: ORDER BY $ident)? LIMIT (\\d+) OFFSET (\\d+)".r
  private val MaxState = s"SELECT max\\($ident\\), max\\($ident\\) FROM $ident\\.$ident WHERE $ident = $lit".r
  private val InsertHead = s"INSERT INTO $ident\\.$ident \\(([^)]*)\\) VALUES".r

  private def unquote(s: String): String = if (s == null) null else unescapeSql(s)

  private def unescapeSql(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def escapeTsv(cell: String): String =
    if (cell == null) "\\N"
    else {
      val sb = new StringBuilder(cell.length + 8)
      cell.foreach {
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\\' => sb.append("\\\\")
        case c => sb.append(c)
      }
      sb.toString
    }

  private def tsv(rows: Iterable[Array[String]]): String = {
    val sb = new StringBuilder
    rows.foreach { r =>
      var i = 0
      while (i < r.length) { if (i > 0) sb.append('\t'); sb.append(escapeTsv(r(i))); i += 1 }
      sb.append('\n')
    }
    sb.toString
  }

  /** Split a column-definition list on commas outside parentheses. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** `(lit, lit, …), (…)` from `from`: quoted strings with backslash
    * escapes, bare numbers and `NULL`.
    */
  def parseTuples(s: String, from: Int): IndexedSeq[Array[String]] = {
    val out = mutable.ArrayBuffer[Array[String]]()
    val tup = mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var i = from
    val n = s.length
    def skipWs(): Unit = while (i < n && s.charAt(i).isWhitespace) i += 1
    while ({ skipWs(); i < n }) {
      require(s.charAt(i) == '(', s"expected '(' at $i")
      i += 1
      tup.clear()
      var done = false
      while (!done) {
        skipWs()
        if (s.charAt(i) == '\'') {
          i += 1
          sb.clear()
          while (i < n && s.charAt(i) != '\'') {
            val c = s.charAt(i)
            if (c == '\\' && i + 1 < n) { sb.append(s.charAt(i + 1)); i += 2 } else { sb.append(c); i += 1 }
          }
          require(i < n, "unterminated string literal")
          i += 1
          tup += sb.toString
        } else {
          val start = i
          while (i < n && s.charAt(i) != ',' && s.charAt(i) != ')') i += 1
          val tok = s.substring(start, i).trim
          tup += (if (tok == "NULL") null else tok)
        }
        skipWs()
        if (s.charAt(i) == ',') i += 1
        else if (s.charAt(i) == ')') { i += 1; done = true }
        else throw new IllegalArgumentException(s"bad tuple at $i")
      }
      out += tup.toArray
      skipWs()
      if (i < n && s.charAt(i) == ',') i += 1
    }
    out.toIndexedSeq
  }
}
