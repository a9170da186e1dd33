package graftbench

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import scala.collection.immutable.ListMap
import scala.util.Random

import graft.sources.Bson

/** Seeded source documents and the target rows the sync job must
  * produce from them.
  *
  * Every generated object also yields its expected target row: column
  * name to the string the all-String (ES, Mongo) or typed (ClickHouse)
  * target must hold. The expectations follow the sync job's data
  * model: ES mapping fields flattened with `_`-joined, sanitized names;
  * nested-object leaves as their scalar text; scalar arrays as JSON.
  * Arrays of objects (`spans`, `items`) are left out of the
  * expectation: ES maps them as sub-field columns (`spans_op`, …),
  * which the sync job leaves NULL, so the check neither requires that
  * loss nor fails on it.
  * Mongo documents flatten one level deep, nested values as Python
  * `json.dumps` text. ClickHouse rows keep their values, timestamps at
  * the target's microsecond literal.
  */
object Gen {
  val IsoMs: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  val ChMs: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  def isoMs(epochMs: Long): String = IsoMs.format(Instant.ofEpochMilli(epochMs))

  private val hosts = Vector("web-01", "web-02", "api-01", "api-02", "batch-07")
  private val methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val agents = Vector("Mozilla/5.0 (X11; Linux x86_64)", "curl/8.5.0", "okhttp/4.12.0",
    "Bot's crawler/2.1 (+https://example.org/bot)", "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_4)")
  private val tagPool = Vector("edge", "canary", "retry", "cached", "slow", "tls13")
  private val ops = Vector("db", "cache", "render", "auth")
  private val tiers = Vector("free", "pro", "team", "enterprise")
  private val statuses = Vector("new", "paid", "packed", "shipped", "delivered")

  def q(s: String): String = "\"" + s + "\""
  def jsonArr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** An ES document: id, create stamp, update stamp (or null), source
    * JSON and expected target row.
    */
  final case class EsDoc(id: String, created: String, updated: String, src: String, expected: Map[String, String])

  // ---- index `web-logs`: append-only, `@timestamp`, nested objects,
  // a scalar array, an array of objects, a name with a dash ----------

  val LogsIndex = "web-logs"
  val LogsMapping: String =
    """{"@timestamp":{"type":"date"},""" +
      """"host":{"properties":{"name":{"type":"keyword"},"ip":{"type":"ip"}}},""" +
      """"http":{"properties":{"method":{"type":"keyword"},"status":{"type":"long"},"bytes":{"type":"long"}}},""" +
      """"user-agent":{"type":"text"},"tags":{"type":"keyword"},""" +
      """"spans":{"properties":{"op":{"type":"keyword"},"ms":{"type":"double"}}},""" +
      """"latency_ms":{"type":"double"},"ok":{"type":"boolean"}}"""

  def logDoc(r: Random, id: String, stamp: String): EsDoc = {
    val host = hosts(r.nextInt(hosts.size))
    val ip = s"10.0.${r.nextInt(8)}.${r.nextInt(250) + 1}"
    val method = methods(r.nextInt(methods.size))
    val status = Vector(200, 200, 200, 201, 204, 301, 404, 500)(r.nextInt(8))
    val bytes = r.nextInt(200000).toLong
    val agent = agents(r.nextInt(agents.size))
    val tags = (0 until r.nextInt(4)).map(_ => tagPool(r.nextInt(tagPool.size))).distinct
    val spans = (0 until r.nextInt(3)).map(_ => (ops(r.nextInt(ops.size)), (r.nextInt(40000) + 1) / 8.0))
    val latency = (r.nextInt(800000) + 1) / 16.0
    val ok = status < 400
    val src = new StringBuilder("{")
      .append(q("@timestamp")).append(':').append(q(stamp))
      .append(""","host":{"name":""").append(q(host)).append(""","ip":""").append(q(ip)).append('}')
      .append(""","http":{"method":""").append(q(method)).append(""","status":""").append(status)
      .append(""","bytes":""").append(bytes).append('}')
      .append(""","user-agent":""").append(q(agent))
      .append(""","tags":""").append(jsonArr(tags.map(q)))
      .append(""","spans":""").append(jsonArr(spans.map { case (o, ms) => s"""{"op":"$o","ms":$ms}""" }))
      .append(""","latency_ms":""").append(latency)
      .append(""","ok":""").append(ok).append('}').toString
    val expected = Map(
      "_id" -> id, "timestamp" -> stamp, "host_name" -> host, "host_ip" -> ip, "http_method" -> method,
      "http_status" -> status.toString, "http_bytes" -> bytes.toString, "user_agent" -> agent,
      "tags" -> jsonArr(tags.map(q)), "latency_ms" -> latency.toString, "ok" -> ok.toString)
    EsDoc(id, stamp, null, src, expected)
  }

  // ---- index `orders`: create + update stamps, revisions -----------

  val OrdersIndex = "orders"
  val OrdersMapping: String =
    """{"created_at":{"type":"date"},"updated_at":{"type":"date"},"rev":{"type":"long"},""" +
      """"status":{"type":"keyword"},""" +
      """"customer":{"properties":{"id":{"type":"long"},"tier":{"type":"keyword"}}},""" +
      """"items":{"properties":{"sku":{"type":"keyword"},"qty":{"type":"long"}}},""" +
      """"total":{"type":"double"},"note":{"type":"text"},"promo-codes":{"type":"keyword"}}"""

  def orderDoc(r: Random, id: String, created: String, updated: String, rev: Int): EsDoc = {
    val status = statuses(math.min(rev, statuses.size - 1))
    val cust = r.nextInt(5000).toLong
    val tier = tiers(r.nextInt(tiers.size))
    val items = (0 until r.nextInt(4) + 1).map(_ => (s"SKU-${r.nextInt(900) + 100}", r.nextInt(5) + 1))
    val total = (r.nextInt(4000000) + 1) / 100.0
    val note = if (r.nextInt(3) == 0) Some(s"leave at door #${r.nextInt(99)}") else None
    val promos = (0 until r.nextInt(3)).map(i => s"P${r.nextInt(50)}-$i")
    val src = new StringBuilder("{")
      .append(""""created_at":""").append(q(created)).append(""","updated_at":""").append(q(updated))
      .append(""","rev":""").append(rev).append(""","status":""").append(q(status))
      .append(""","customer":{"id":""").append(cust).append(""","tier":""").append(q(tier)).append('}')
      .append(""","items":""").append(jsonArr(items.map { case (s, n) => s"""{"sku":"$s","qty":$n}""" }))
      .append(""","total":""").append(total)
      .append(note.map(n => s""","note":${q(n)}""").getOrElse(""))
      .append(""","promo-codes":""").append(jsonArr(promos.map(q))).append('}').toString
    val expected = Map(
      "_id" -> id, "created_at" -> created, "updated_at" -> updated, "rev" -> rev.toString,
      "status" -> status, "customer_id" -> cust.toString, "customer_tier" -> tier,
      "total" -> total.toString, "note" -> note.orNull,
      "promo_codes" -> jsonArr(promos.map(q)))
    EsDoc(id, created, updated, src, expected)
  }

  // ---- ClickHouse source table `shop.payments` (typed) --------------

  val ChDb = "shop"
  val ChTable = "payments"
  val ChSchema: Seq[(String, String)] = Seq("id" -> "Int64", "ts" -> "DateTime64(3)", "method" -> "String",
    "amount" -> "Float64", "qty" -> "Int32", "note" -> "Nullable(String)")

  /** (source cells, expected target row) for row `i`. */
  def payment(r: Random, i: Int, epochMs: Long): (Array[String], Map[String, String]) = {
    val ts = ChMs.format(Instant.ofEpochMilli(epochMs))
    val method = Vector("card", "wire", "wallet", "voucher")(r.nextInt(4))
    val amount = (r.nextInt(10000000) + 1) / 100.0
    val qty = r.nextInt(20) + 1
    val note = if (r.nextInt(4) == 0) s"split 1/${r.nextInt(4) + 2}, ref '${r.nextInt(1000)}'" else null
    val cells = Array(i.toString, ts, method, amount.toString, qty.toString, note)
    val expected = Map("id" -> i.toString, "ts" -> (ts + "000"), "method" -> method,
      "amount" -> amount.toString, "qty" -> qty.toString, "note" -> note)
    (cells, expected)
  }

  // ---- Mongo collection `app.events` ---------------------------------

  val MongoDb = "app"
  val MongoColl = "events"

  def oid(sec: Long, i: Int): Bson.Oid = Bson.Oid(f"$sec%08x" + "5eedc0de" + f"$i%08x")

  def mongoDoc(r: Random, id: Bson.Oid): (ListMap[String, Any], Map[String, String]) = {
    val kind = Vector("click", "view", "purchase", "signup")(r.nextInt(4))
    val uid = r.nextInt(100000)
    val uname = s"user_$uid"
    val tags = (0 until r.nextInt(3)).map(_ => tagPool(r.nextInt(tagPool.size)))
    val score = (r.nextInt(100000) + 1) / 8.0 + 0.0625
    val active = r.nextBoolean()
    val n = r.nextLong() >>> 20
    val doc = ListMap[String, Any]("_id" -> id, "kind" -> kind,
      "user" -> ListMap[String, Any]("id" -> uid, "name" -> uname), "tags" -> tags,
      "score" -> score, "active" -> active, "n" -> n)
    val expected = Map("_id" -> id.hex, "kind" -> kind, "user" -> s"""{"id": $uid, "name": "$uname"}""",
      "tags" -> tags.map(q).mkString("[", ", ", "]"), "score" -> score.toString,
      "active" -> active.toString, "n" -> n.toString)
    (doc, expected)
  }
}
