package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.Socket
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.Flatten
import graft.sinks.ChHttpClient

/** MongoDB OP_MSG wire protocol, hand-rolled from the public spec —
  * the live-protocol pendant of [[EsRestClient]] (ES REST scroll) and
  * [[graft.sinks.ChHttpClient]] (CH SQL-over-HTTP) for the third
  * reference source (mongodb_to_bytehouse.py:161-177 connect,
  * 488-679 full/incremental sweep). Modern MongoDB speaks exactly one
  * frame shape for every command: a 16-byte message header (opCode
  * 2013 = OP_MSG), int32 flagBits, one kind-0 section holding a BSON
  * command document; replies mirror it. The handful of commands the
  * reference flow needs — hello, find (filter/sort/limit/batchSize),
  * getMore, killCursors, count, listCollections — are all plain
  * command documents, so the client is a socket, a BSON codec, and a
  * request counter. `MongoLiveParitySpec` drives the full reference
  * flow against an in-process stub speaking the same frames.
  */
object Bson {

  /** 12-byte ObjectId carried as its 24-hex-char form — the reference
    * stringifies ObjectIds everywhere (`str(doc["_id"])`,
    * mongodb_to_bytehouse.py:319-320), and hex order == byte order ==
    * the server's `sort {_id: 1}` order, so watermark comparisons on
    * the hex form are exactly the wire comparisons.
    */
  final case class Oid(hex: String) {
    require(hex.length == 24 && hex.forall(c => "0123456789abcdef".contains(c)),
      s"ObjectId must be 24 lowercase hex chars, got '$hex'")
    def bytes: Array[Byte] =
      hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
  }
  object Oid {
    def apply(bytes: Array[Byte]): Oid = {
      require(bytes.length == 12, s"ObjectId is 12 bytes, got ${bytes.length}")
      Oid(bytes.map(b => f"${b & 0xff}%02x").mkString)
    }
  }

  /** Encode a BSON document. Key order is significant on the wire
    * (the command name must be the FIRST element), hence Seq of pairs
    * rather than Map. Value types cover what the reference flow
    * moves: strings, int32/int64, doubles, booleans, null, ObjectId,
    * UTC datetime (java.sql.Timestamp, millis), binary (subtype 0),
    * nested documents (Seq[(String, Any)] or Map) and arrays (Seq).
    */
  def encode(doc: Seq[(String, Any)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeDoc(out, doc)
    out.toByteArray
  }

  private def writeDoc(out: java.io.ByteArrayOutputStream, doc: Seq[(String, Any)]): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    doc.foreach { case (k, v) => writeElement(body, k, v) }
    val total = 4 + body.size() + 1
    out.write(le32(total))
    body.writeTo(out)
    out.write(0)
  }

  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  private def le64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  private def cstring(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(!b.contains(0.toByte), "BSON keys cannot contain NUL")
    b :+ 0.toByte
  }

  private def writeElement(out: java.io.ByteArrayOutputStream, k: String, v: Any): Unit = v match {
    case d: Double =>
      out.write(0x01); out.write(cstring(k)); out.write(le64(java.lang.Double.doubleToLongBits(d)))
    case s: String =>
      out.write(0x02); out.write(cstring(k))
      val b = s.getBytes(StandardCharsets.UTF_8)
      out.write(le32(b.length + 1)); out.write(b); out.write(0)
    case m: Map[_, _] =>
      out.write(0x03); out.write(cstring(k))
      writeDoc(out, m.toSeq.map { case (kk, vv) => (kk.toString, vv) })
    case sub: Seq[_] if sub.nonEmpty && sub.head.isInstanceOf[(_, _)] &&
        sub.head.asInstanceOf[(_, _)]._1.isInstanceOf[String] =>
      out.write(0x03); out.write(cstring(k))
      writeDoc(out, sub.asInstanceOf[Seq[(String, Any)]])
    case arr: Seq[_] =>
      out.write(0x04); out.write(cstring(k))
      writeDoc(out, arr.zipWithIndex.map { case (x, i) => (i.toString, x: Any) })
    case b: Array[Byte] =>
      out.write(0x05); out.write(cstring(k)); out.write(le32(b.length)); out.write(0); out.write(b)
    case o: Oid =>
      out.write(0x07); out.write(cstring(k)); out.write(o.bytes)
    case b: Boolean =>
      out.write(0x08); out.write(cstring(k)); out.write(if (b) 1 else 0)
    case t: java.sql.Timestamp =>
      out.write(0x09); out.write(cstring(k)); out.write(le64(t.getTime))
    case null =>
      out.write(0x0A); out.write(cstring(k))
    case i: Int =>
      out.write(0x10); out.write(cstring(k)); out.write(le32(i))
    case l: Long =>
      out.write(0x12); out.write(cstring(k)); out.write(le64(l))
    case other =>
      throw new IllegalArgumentException(s"unsupported BSON value for '$k': ${other.getClass}")
  }

  /** Decode one document starting at `off`; returns (doc, bytesRead).
    * Key order is preserved (ListMap) — assertions and the command
    * dispatcher both care.
    */
  def decode(bytes: Array[Byte], off: Int = 0): (ListMap[String, Any], Int) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val len = buf.getInt(off)
    var p = off + 4
    val out = mutable.LinkedHashMap[String, Any]()
    while (bytes(p) != 0) {
      val tpe = bytes(p) & 0xff
      p += 1
      val keyEnd = { var q = p; while (bytes(q) != 0) q += 1; q }
      val key = new String(bytes, p, keyEnd - p, StandardCharsets.UTF_8)
      p = keyEnd + 1
      tpe match {
        case 0x01 => out(key) = java.lang.Double.longBitsToDouble(buf.getLong(p)); p += 8
        case 0x02 =>
          val slen = buf.getInt(p)
          out(key) = new String(bytes, p + 4, slen - 1, StandardCharsets.UTF_8)
          p += 4 + slen
        case 0x03 =>
          val (sub, n) = decode(bytes, p); out(key) = sub; p += n
        case 0x04 =>
          val (sub, n) = decode(bytes, p); out(key) = sub.values.toVector; p += n
        case 0x05 =>
          val blen = buf.getInt(p)
          out(key) = java.util.Arrays.copyOfRange(bytes, p + 5, p + 5 + blen)
          p += 5 + blen
        case 0x07 =>
          out(key) = Oid(java.util.Arrays.copyOfRange(bytes, p, p + 12)); p += 12
        case 0x08 => out(key) = bytes(p) != 0; p += 1
        case 0x09 => out(key) = new java.sql.Timestamp(buf.getLong(p)); p += 8
        case 0x0A => out(key) = null
        case 0x10 => out(key) = buf.getInt(p); p += 4
        case 0x12 => out(key) = buf.getLong(p); p += 8
        case other => throw new IllegalArgumentException(f"unsupported BSON type 0x$other%02x at $p")
      }
    }
    require(p + 1 - off == len, s"BSON length mismatch: declared $len, walked ${p + 1 - off}")
    (ListMap.from(out), len)
  }

  /** Render a decoded value as JSON — the reference shoves nested
    * objects/arrays into the row as `json.dumps(value, default=str)`
    * (mongodb_to_bytehouse.py:313-318); this is that serializer for
    * wire-decoded values.
    */
  def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case o: Oid => toJson(o.hex)
    case t: java.sql.Timestamp => toJson(t.toInstant.toString)
    case b: Array[Byte] => toJson(b.map(x => f"${x & 0xff}%02x").mkString)
    case m: Map[_, _] =>
      m.map { case (k, vv) => s"${toJson(k.toString)}: ${toJson(vv)}" }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ", ", "]")
    case other => toJson(other.toString)
  }
}

/** One OP_MSG connection: frame a BSON command, read the BSON reply.
  * Commands carry their database in the `$db` field (wire spec);
  * replies with `ok != 1` raise with the server's errmsg. Not
  * thread-safe — one client per reader, the socket is the session.
  */
class MongoWireClient(
    host: String,
    port: Int,
    connectTimeoutMs: Int = ChHttpClient.ConnectTimeoutMs,
    readTimeoutMs: Int = ChHttpClient.ReadTimeoutMs)
    extends AutoCloseable {

  private val socket = new Socket()
  socket.connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
  socket.setSoTimeout(readTimeoutMs)
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
  private val out = new BufferedOutputStream(socket.getOutputStream)
  private var nextRequestId = 1

  override def close(): Unit = socket.close()

  /** Send one command document, return the reply document. */
  def command(db: String, doc: Seq[(String, Any)]): ListMap[String, Any] = {
    val body = Bson.encode(doc :+ ("$db" -> db))
    val total = 16 + 4 + 1 + body.length // header + flagBits + section kind + doc
    val header = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
    header.putInt(total).putInt(nextRequestId).putInt(0).putInt(2013).putInt(0).put(0.toByte)
    nextRequestId += 1
    out.write(header.array()); out.write(body); out.flush()
    // reply: same frame shape
    val lenBytes = new Array[Byte](4)
    in.readFully(lenBytes)
    val len = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getInt
    val rest = new Array[Byte](len - 4)
    in.readFully(rest)
    val opCode = ByteBuffer.wrap(rest, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    require(opCode == 2013, s"expected OP_MSG reply, got opCode $opCode")
    require(rest(16) == 0, s"expected kind-0 section, got ${rest(16)}")
    val (reply, _) = Bson.decode(rest, 17)
    reply.get("ok") match {
      case Some(1) | Some(1.0d) | Some(1L) => reply
      case _ => throw new java.io.IOException(
        s"Mongo command failed: ${reply.getOrElse("errmsg", reply.toString())}")
    }
  }

  /** Connection probe — every driver's first command on a session. */
  def hello(): ListMap[String, Any] = command("admin", Seq("hello" -> 1))

  /** Collection names, system.* filtered like the reference's
    * get_collections (mongodb_to_bytehouse.py:297-304).
    */
  def listCollections(db: String): Seq[String] = {
    val reply = command(db, Seq("listCollections" -> 1))
    cursorBatch(reply, "firstBatch")._2
      .map(_("name").asInstanceOf[String])
      .filterNot(_.startsWith("system."))
      .sorted
  }

  /** ref estimated_document_count (mongodb_to_bytehouse.py:496). */
  def count(db: String, coll: String): Long =
    command(db, Seq("count" -> coll)).get("n") match {
      case Some(i: Int) => i.toLong
      case Some(l: Long) => l
      case other => throw new java.io.IOException(s"count returned $other")
    }

  /** Open a cursor: `find` with optional `_id > afterId` filter, the
    * reference's invariant `sort {_id: 1}`, optional limit, and
    * batchSize. Returns (cursorId, firstBatch); cursorId 0 = done.
    */
  def find(
      db: String,
      coll: String,
      afterId: Option[Bson.Oid],
      batchSize: Int,
      limit: Option[Int] = None
  ): (Long, Seq[ListMap[String, Any]]) = {
    val base = Seq[(String, Any)](
      "find" -> coll,
      "filter" -> afterId.map(oid => Map("_id" -> Map("$gt" -> oid))).getOrElse(Map.empty[String, Any]),
      "sort" -> Map("_id" -> 1),
      "batchSize" -> batchSize)
    val doc = limit.map(l => base :+ ("limit" -> l)).getOrElse(base)
    val reply = command(db, doc)
    cursorBatch(reply, "firstBatch")
  }

  def getMore(db: String, coll: String, cursorId: Long, batchSize: Int): (Long, Seq[ListMap[String, Any]]) =
    cursorBatch(command(db,
      Seq("getMore" -> cursorId, "collection" -> coll, "batchSize" -> batchSize)), "nextBatch")

  def killCursors(db: String, coll: String, ids: Seq[Long]): Unit =
    command(db, Seq("killCursors" -> coll, "cursors" -> ids))

  private def cursorBatch(reply: ListMap[String, Any], batchKey: String): (Long, Seq[ListMap[String, Any]]) = {
    val cursor = reply("cursor").asInstanceOf[ListMap[String, Any]]
    val id = cursor("id") match { case l: Long => l; case i: Int => i.toLong }
    val batch = cursor(batchKey).asInstanceOf[Seq[Any]].map(_.asInstanceOf[ListMap[String, Any]])
    (id, batch)
  }
}

/** The reference's MongoDB read surface on the wire client: shallow
  * document flatten (nested/array → JSON string, ObjectId → hex,
  * datetime → ISO, bytes → hex, everything else stringified — the
  * all-string row shape the reference inserts), field discovery by
  * sampling, and a cursor read that lands as an all-string DataFrame
  * with `_id` first.
  *
  * Scale note: one cursor is one session — this reader drains it on
  * the driver a batch at a time, which is exactly the reference's
  * serial loop and the right shape for the protocol-parity layer. At
  * warehouse scale the same verbs parallelize by `_id` ranges (each
  * Spark task opens its own socket and cursor over a disjoint
  * `$gt`/`$lte` span — the [[graft.sinks.ChSource.readByKeyRange]]
  * move); the per-task loop is this same find/getMore walk.
  */
object MongoSource {

  /** flatten_document (mongodb_to_bytehouse.py:306-333) for
    * wire-decoded docs: depth-1 only, nested structures become JSON
    * strings, keys sanitized like [[Flatten.sanitizeName]] (the same
    * rule the DataFrame-side [[Flatten.flattenShallow]] applies, so
    * the two ingest paths produce identical column names).
    */
  def flattenDoc(doc: ListMap[String, Any]): ListMap[String, String] =
    doc.map { case (k, v) =>
      Flatten.sanitizeName(k) -> (v match {
        case null => null
        case s: String => s
        case o: Bson.Oid => o.hex
        case t: java.sql.Timestamp => t.toInstant.toString
        case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
        case m: Map[_, _] => Bson.toJson(m)
        case lm: ListMap[_, _] => Bson.toJson(lm)
        case s: Seq[_] => Bson.toJson(s)
        case other => other.toString
      })
    }

  /** ref scan_collection_fields (mongodb_to_bytehouse.py:590-607):
    * union of flattened field names over a sample of documents,
    * `_id` always first.
    */
  def scanFields(client: MongoWireClient, db: String, coll: String, sample: Int = 100): Seq[String] = {
    val (cid, docs) = client.find(db, coll, afterId = None, batchSize = sample, limit = Some(sample))
    if (cid != 0) client.killCursors(db, coll, Seq(cid))
    val fields = docs.flatMap(d => flattenDoc(d).keys).distinct
    "_id" +: fields.filterNot(_ == "_id")
  }

  /** Drain one cursor into an all-string DataFrame: find (+ optional
    * `_id > afterId` — the incremental watermark probe, ref :622-626)
    * then getMore until the server returns cursor 0. Schema = the
    * union of flattened keys across all batches (document stores are
    * ragged; absent fields are NULL — the reference's add-new-columns
    * move, applied once at the end instead of per batch because a
    * DataFrame's schema is immutable).
    */
  def read(
      spark: SparkSession,
      host: String,
      port: Int,
      db: String,
      coll: String,
      batchSize: Int,
      afterId: Option[String] = None
  ): DataFrame = readWithCount(spark, host, port, db, coll, batchSize, afterId)._1

  /** [[read]] plus the number of documents drained on the driver: a
    * caller can tell an empty read without running a job.
    */
  def readWithCount(
      spark: SparkSession,
      host: String,
      port: Int,
      db: String,
      coll: String,
      batchSize: Int,
      afterId: Option[String] = None
  ): (DataFrame, Long) = {
    val client = new MongoWireClient(host, port)
    try {
      val rows = mutable.ArrayBuffer[ListMap[String, String]]()
      var (cid, batch) = client.find(db, coll, afterId.map(Bson.Oid(_)), batchSize)
      rows ++= batch.map(flattenDoc)
      while (cid != 0) {
        val (nid, nb) = client.getMore(db, coll, cid, batchSize)
        cid = nid
        rows ++= nb.map(flattenDoc)
      }
      val fields = ("_id" +: rows.flatMap(_.keys).distinct.filterNot(_ == "_id")).toSeq
      val schema = StructType(fields.map(f => StructField(f, StringType)))
      val data = rows.toSeq.map(r => Row.fromSeq(fields.map(f => r.getOrElse(f, null))))
      (spark.createDataFrame(
        spark.sparkContext.parallelize(data, math.max(1, data.size / math.max(1, batchSize))), schema),
        data.size.toLong)
    } finally client.close()
  }
}
