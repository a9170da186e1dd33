package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.sources.Bson

/** MongoDB OP_MSG fake: `hello`, `listCollections`, `count`, `find`
  * with an empty filter and `sort {_id: 1}` (what a full pass sends),
  * `getMore` and `killCursors`. Collections are kept sorted by `_id`.
  * Connections are served by a pool of at most `threads` threads. BSON
  * framing uses the engine's own codec (`graft.sources.Bson`), the
  * wire format both ends share.
  */
final class MongoFake(threads: Int) {
  val stats = new FakeStats
  private val collections = new ConcurrentHashMap[(String, String), java.util.TreeMap[String, ListMap[String, Any]]]()
  /** Live cursors: id -> (result, next position). */
  private val cursors = new ConcurrentHashMap[Long, (Vector[ListMap[String, Any]], Int)]()
  private val nextCursor = new AtomicLong(1000L)
  private val server = new ServerSocket(0, 64, InetAddress.getByName("127.0.0.1"))
  private val pool = Executors.newFixedThreadPool(math.max(1, threads))
  @volatile private var running = true
  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        pool.execute(() => serve(s))
      } catch { case _: Exception => () }
    }
  }, "mongo-fake-accept")
  acceptor.setDaemon(true)

  def start(): Int = { acceptor.start(); server.getLocalPort }

  def stop(): Unit = {
    running = false
    server.close()
    acceptor.join(5000)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  def seed(db: String, coll: String, docs: Iterator[ListMap[String, Any]]): Unit = {
    val m = new java.util.TreeMap[String, ListMap[String, Any]]()
    docs.foreach(d => m.put(d("_id").asInstanceOf[Bson.Oid].hex, d))
    collections.put((db, coll), m)
  }

  private def serve(socket: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    val out = new BufferedOutputStream(socket.getOutputStream)
    try {
      while (true) {
        val lenBytes = new Array[Byte](4)
        in.readFully(lenBytes)
        val t0 = System.nanoTime()
        val len = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getInt
        val rest = new Array[Byte](len - 4)
        in.readFully(rest)
        val reqId = ByteBuffer.wrap(rest, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
        val opCode = ByteBuffer.wrap(rest, 8, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
        require(opCode == 2013 && rest(16) == 0, s"bad frame: opCode=$opCode kind=${rest(16)}")
        val (cmd, _) = Bson.decode(rest, 17)
        val reply =
          try dispatch(cmd)
          catch { case e: Exception => Seq[(String, Any)]("ok" -> 0.0, "errmsg" -> e.getMessage) }
        val body = Bson.encode(reply)
        val header = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
        header.putInt(21 + body.length).putInt(0).putInt(reqId).putInt(2013).putInt(0).put(0.toByte)
        out.write(header.array()); out.write(body); out.flush()
        stats.record(t0, System.nanoTime(), len.toLong, 21L + body.length)
      }
    } catch {
      case _: Exception => () // client closed the connection
    } finally socket.close()
  }

  private def dbOf(cmd: ListMap[String, Any]): String = cmd("$db").asInstanceOf[String]

  private def coll(cmd: ListMap[String, Any], name: String) =
    Option(collections.get((dbOf(cmd), name)))
      .getOrElse(throw new IllegalArgumentException(s"ns not found: ${dbOf(cmd)}.$name"))

  private def batchSize(cmd: ListMap[String, Any]): Int = cmd.get("batchSize") match {
    case Some(b: Int) => b
    case _ => 101
  }

  private def dispatch(cmd: ListMap[String, Any]): Seq[(String, Any)] = cmd.head match {
    case ("hello", _) => Seq("isWritablePrimary" -> true, "maxWireVersion" -> 17, "ok" -> 1.0)
    case ("listCollections", _) =>
      val names = collections.keySet.asScala.toSeq.filter(_._1 == dbOf(cmd)).map(_._2).sorted
      Seq("cursor" -> Seq[(String, Any)]("id" -> 0L, "ns" -> s"${dbOf(cmd)}.$$cmd.listCollections",
        "firstBatch" -> names.map(n => Map("name" -> n, "type" -> "collection"))), "ok" -> 1.0)
    case ("count", name: String) => Seq("n" -> coll(cmd, name).size, "ok" -> 1.0)
    case ("find", name: String) =>
      require(cmd.get("sort").contains(ListMap("_id" -> 1)), s"fake requires sort {_id: 1}, got ${cmd.get("sort")}")
      val docs = coll(cmd, name)
      val selected = cmd.get("filter") match {
        case Some(f: ListMap[String, Any] @unchecked) if f.isEmpty => docs.values
        case None => docs.values
        case other => throw new IllegalArgumentException(s"unsupported filter: $other")
      }
      val all = selected.asScala.toVector
      val limited = cmd.get("limit") match { case Some(l: Int) => all.take(l); case _ => all }
      val first = limited.take(batchSize(cmd))
      val cid =
        if (limited.size > first.size) { val c = nextCursor.incrementAndGet(); cursors.put(c, (limited, first.size)); c }
        else 0L
      Seq("cursor" -> Seq[(String, Any)]("id" -> cid, "ns" -> s"${dbOf(cmd)}.$name", "firstBatch" -> first),
        "ok" -> 1.0)
    case ("getMore", cid: Long) =>
      val (docs, pos) = Option(cursors.get(cid)).getOrElse(throw new IllegalArgumentException(s"cursor $cid not found"))
      val batch = docs.slice(pos, pos + batchSize(cmd))
      val nid = if (pos + batch.size < docs.size) { cursors.put(cid, (docs, pos + batch.size)); cid }
        else { cursors.remove(cid); 0L }
      Seq("cursor" -> Seq[(String, Any)]("id" -> nid, "ns" -> s"${dbOf(cmd)}.${cmd("collection")}",
        "nextBatch" -> batch), "ok" -> 1.0)
    case ("killCursors", _) =>
      val ids = cmd("cursors").asInstanceOf[Seq[Any]].map { case l: Long => l; case i: Int => i.toLong }
      Seq("cursorsKilled" -> ids.filter(cursors.remove(_) != null), "ok" -> 1.0)
    case other => throw new IllegalArgumentException(s"unhandled command: $other")
  }
}
