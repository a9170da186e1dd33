package graftbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Elasticsearch fake: `_cat/indices`, `_mapping` and scroll search.
  *
  * Each index keeps its documents in insertion order. The search
  * understood is the one a full pass sends: `match_all`, unsorted.
  * Anything else is answered 400, so a change in the request shapes
  * fails loudly instead of being guessed. Scroll takes the index's
  * documents once at open and pages from that copy.
  */
final class EsFake(threads: Int) extends HttpFake(threads) {
  import EsFake._

  private val om = new ObjectMapper()
  private val indices = new ConcurrentHashMap[String, Index]()
  private val scrolls = new ConcurrentHashMap[String, Cursor]()
  private val nextId = new AtomicLong(0)

  def createIndex(name: String, mappingProperties: String): Unit =
    indices.put(name, new Index(mappingProperties))

  def dropAll(): Unit = { indices.clear(); scrolls.clear() }

  def put(index: String, id: String, src: String): Unit = {
    val ix = indices.get(index)
    ix.synchronized(ix.docs.put(id, Doc(id, src)))
  }

  override protected def handle(method: String, path: String, body: Array[Byte]): (Int, Array[Byte]) =
    (method, path) match {
      case ("GET", p) if p.startsWith("/_cat/indices/") =>
        val re = globRegex(p.stripPrefix("/_cat/indices/"))
        val rows = indices.keySet.asScala.toSeq.sorted.filter(re.matches).map { i =>
          s"""{"index":"$i","docs.count":"${indices.get(i).docs.size}","store.size":"1mb"}"""
        }
        ok(rows.mkString("[", ",", "]"))
      case ("GET", p) if p.endsWith("/_mapping") =>
        val name = p.stripPrefix("/").stripSuffix("/_mapping")
        Option(indices.get(name)) match {
          case Some(ix) => ok(s"""{"$name":{"mappings":{"properties":${ix.mapping}}}}""")
          case None => err(404, s"no such index [$name]")
        }
      case ("POST", "/_search/scroll") =>
        val sid = om.readTree(body).path("scroll_id").asText("")
        Option(scrolls.get(sid)) match {
          case Some(c) => ok(scrollPage(sid, c))
          case None => err(404, "scroll not found")
        }
      case ("DELETE", "/_search/scroll") =>
        val sid = om.readTree(body).path("scroll_id").asText("")
        scrolls.remove(sid)
        ok("""{"succeeded":true,"num_freed":1}""")
      case ("POST", p) if p.endsWith("/_search") =>
        val name = p.stripPrefix("/").stripSuffix("/_search")
        val req = om.readTree(body)
        Option(indices.get(name)) match {
          case None => err(404, s"no such index [$name]")
          case Some(_) if !req.path("query").has("match_all") || req.has("sort") =>
            err(400, s"unsupported search ${req.toString.take(200)}")
          case Some(ix) =>
            val sid = s"scroll-${nextId.incrementAndGet()}"
            val c = new Cursor(ix.synchronized(ix.docs.values.asScala.toVector), req.path("size").asInt(10))
            scrolls.put(sid, c)
            ok(scrollPage(sid, c))
        }
      case _ => err(400, s"unhandled $method $path")
    }

  private def scrollPage(sid: String, c: Cursor): String = {
    val page = c.synchronized {
      val p = c.docs.slice(c.pos, c.pos + c.size); c.pos += p.size; p
    }
    val sb = new StringBuilder(64 + page.map(_.src.length + 40).sum)
    sb.append(s"""{"_scroll_id":"$sid","hits":{"total":{"value":${c.docs.size},"relation":"eq"},"hits":[""")
    page.zipWithIndex.foreach { case (d, i) =>
      if (i > 0) sb.append(',')
      sb.append("""{"_id":"""").append(d.id).append("""","_source":""").append(d.src).append('}')
    }
    sb.append("]}}").toString
  }

  private def ok(s: String): (Int, Array[Byte]) = (200, s.getBytes(UTF_8))
  private def err(code: Int, msg: String): (Int, Array[Byte]) =
    (code, s"""{"error":"${msg.replace("\"", "'")}"}""".getBytes(UTF_8))
}

object EsFake {
  final case class Doc(id: String, src: String)

  final class Index(val mapping: String) {
    val docs = new java.util.LinkedHashMap[String, Doc]()
  }

  final class Cursor(val docs: Vector[Doc], val size: Int) { var pos = 0 }

  def globRegex(pattern: String): scala.util.matching.Regex =
    ("^" + pattern.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
}
