package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.time.Duration
import java.util.concurrent.{ExecutionException, TimeUnit, TimeoutException}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Flatten
import graft.sinks.ChHttpClient

/** Minimal Elasticsearch REST client over the JDK `HttpClient` — the
  * reference's protocol surface, endpoint for endpoint: index
  * discovery via `GET /_cat/indices/<pattern>?format=json`
  * (es_to_bytehouse.py:238-258), mapping fetch + nested-`properties`
  * flatten via `GET /<index>/_mapping` (260-294), and the
  * scroll-search cursor loop `POST /<index>/_search?scroll=…` →
  * `POST /_search/scroll` → `DELETE /_search/scroll`
  * (577-673 full sync, 825-961 incremental). Bodies come from
  * [[EsSourceConfig]] (full / incremental search DSL), so the bytes
  * on the wire are the unit-tested contract strings.
  *
  * Role split: THIS client is the single-cursor path, like the
  * reference's. Pages stream through `onPage`, one scroll page at a
  * time; `WireSync` buffers an object's pages on the driver and hands
  * them to Spark as one [[EsRestClient.docFrame]], so a synced index
  * must fit in driver memory. `EsLiveParitySpec` runs the protocol
  * end-to-end against an ES-speaking HTTP stub.
  *
  * Jackson (bundled with Spark) parses responses; no extra
  * dependency.
  *
  * `maxRetries` bounds re-sends of a request answered 429 (cluster
  * throttling) or 503 (node restart / shard relocation) — ES's two
  * RETRYABLE statuses; the server's `Retry-After` header (seconds) is
  * honored when present, else exponential backoff. Any other non-2xx
  * (404 expired scroll/PIT, 4xx bad request) fails immediately: those
  * are not transient, and a sync pass must abort WITHOUT advancing
  * state so the next pass resumes cleanly. `retrySleep` is injectable
  * so fault-injection specs don't wait.
  *
  * Every connect is bounded by `ChHttpClient`'s 10 s connect timeout,
  * and every response, headers and body, by its 300 s read timeout:
  * a node that accepts a connection and never answers, or stalls
  * partway through a body, fails the request with
  * `HttpTimeoutException` instead of blocking the pass, and with it
  * the whole sweep, forever.
  */
class EsRestClient private[graft] (
    host: String,
    user: String,
    password: String,
    maxRetries: Int,
    retrySleep: Long => Unit,
    readTimeout: Duration) {

  def this(
      host: String,
      user: String = "",
      password: String = "",
      maxRetries: Int = 3,
      retrySleep: Long => Unit = Thread.sleep) =
    this(host, user, password, maxRetries, retrySleep, Duration.ofMillis(ChHttpClient.ReadTimeoutMs))

  private val http =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(ChHttpClient.ConnectTimeoutMs)).build()
  private val om = new ObjectMapper()

  private def send(method: String, path: String, body: Option[String]): JsonNode = {
    val b = HttpRequest
      .newBuilder(URI.create(s"$host$path"))
      .header("Content-Type", "application/json")
    val withAuth =
      if (user.nonEmpty)
        b.header(
          "Authorization",
          "Basic " + java.util.Base64.getEncoder
            .encodeToString(s"$user:$password".getBytes("UTF-8")))
      else b
    val req = method match {
      case "GET"    => withAuth.GET()
      case "POST"   => withAuth.POST(HttpRequest.BodyPublishers.ofString(body.getOrElse("")))
      case "DELETE" =>
        // ES's scroll cleanup is DELETE-with-body (ref:388); the JDK
        // builder supports it via the generic method(...)
        body.fold(withAuth.DELETE())(x =>
          withAuth.method("DELETE", HttpRequest.BodyPublishers.ofString(x)))
      case other => throw new IllegalArgumentException(s"unsupported method $other")
    }
    val built = req.build() // immutable: safe to re-send on retry
    var attempt = 0
    while (true) {
      val resp = bounded(built)
      val code = resp.statusCode()
      if (code >= 200 && code < 300) return om.readTree(resp.body())
      if ((code == 429 || code == 503) && attempt < maxRetries) {
        attempt += 1
        val header = resp.headers().firstValue("Retry-After")
        val retryAfterMs =
          if (header.isPresent)
            try header.get.trim.toLong * 1000L catch { case _: NumberFormatException => -1L }
          else -1L
        retrySleep(if (retryAfterMs >= 0) retryAfterMs else 200L * (1L << (attempt - 1)))
      } else throw new IllegalArgumentException(
        s"ES $method $path -> HTTP $code: ${resp.body().take(500)}" +
          (if (attempt > 0) s" (after $attempt retries)" else ""))
    }
    throw new IllegalStateException("unreachable")
  }

  /** The whole response to `req` within `readTimeout`. The wait is on
    * the async future, not `HttpRequest.timeout`: the JDK cancels that
    * timer once the headers arrive, so a body that stalls would block
    * `send` forever. Failures keep `send`'s exception types.
    */
  private def bounded(req: HttpRequest): HttpResponse[String] = {
    val f = http.sendAsync(req, HttpResponse.BodyHandlers.ofString())
    try f.get(readTimeout.toMillis, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException =>
        throw new HttpTimeoutException(s"no complete response within $readTimeout: ${req.method} ${req.uri}")
      case e: ExecutionException => throw e.getCause
    } finally if (!f.isDone) f.cancel(true) // timed out or interrupted: drop the exchange
  }

  /** User indices matching `pattern` — system ('.'-prefixed) indices
    * filtered client-side like the reference (ref:249-253), sorted
    * for determinism.
    */
  def catIndices(pattern: String = "*"): Seq[String] = {
    val arr = send("GET", s"/_cat/indices/$pattern?format=json&h=index,docs.count,store.size", None)
    (0 until arr.size())
      .map(arr.get(_).path("index").asText(""))
      .filterNot(_.startsWith("."))
      .sorted
  }

  /** Flattened (field → ES type) from the index mapping: nested
    * `properties` recurse with `_`-joined names, and each joined name
    * goes through `Flatten.sanitizeName`, the rule the target DDL, the
    * INSERT and the flattened document columns use. That is the
    * reference's `flatten_mapping` (ref:275-294: `.`/`-` to `_`, `@`
    * dropped) plus `$` to `_` and an `idx_` prefix on a digit-leading
    * name, so a mapping field and its target column always share one
    * spelling. Feed through
    * `graft.operators.TypeMapper.esType` for Spark types or the
    * all-String mode for the reference's own DDL.
    */
  def mappingFields(index: String): Map[String, String] =
    mappingFieldsDetailed(index).map { case (n, (t, _)) => n -> t }

  /** Sanitized name → (ES type, RAW field path). The raw path keeps
    * `@` and dot-joins nested properties the way the ES query DSL
    * addresses them — sanitization is a TARGET-side concern only.
    * The reference remaps `timestamp` back to `@timestamp` before
    * building the incremental range query (es_to_bytehouse.py:836-839,
    * `original_time_field`); carrying the raw path for EVERY field
    * generalizes that remap, so range filters and sorts always name
    * real ES fields — querying the sanitized name on an ECS-style
    * `@timestamp` index silently matches nothing (permanent
    * incremental data loss).
    */
  def mappingFieldsDetailed(index: String): Map[String, (String, String)] = {
    val root = send("GET", s"/$index/_mapping", None)
    val it = root.fields()
    if (!it.hasNext) Map.empty
    else flattenProps(it.next().getValue.path("mappings").path("properties"), "", "")
  }

  private def flattenProps(
      node: JsonNode, prefix: String, rawPrefix: String): Map[String, (String, String)] = {
    import scala.jdk.CollectionConverters._
    node.fields().asScala.flatMap { e =>
      val rawPath = if (rawPrefix.isEmpty) e.getKey else s"$rawPrefix.${e.getKey}"
      val joined = if (prefix.isEmpty) e.getKey else s"${prefix}_${e.getKey}"
      val name = Flatten.sanitizeName(joined)
      val cfg = e.getValue
      if (cfg.has("properties")) flattenProps(cfg.get("properties"), name, rawPath)
      else if (cfg.has("type")) Map(name -> ((cfg.get("type").asText(), rawPath)))
      else Map.empty[String, (String, String)]
    }.toMap
  }

  /** The scroll cursor loop (ref:577-673): open with `body` (use
    * [[EsSourceConfig.fullSearchBody]] /
    * [[EsSourceConfig.incrementalSearchBody]]), stream each page of
    * (doc `_id`, `_source` JSON) through `onPage` — batch-at-a-time
    * like the reference's `insert_batch` sink — continue until an
    * empty page, then DELETE the scroll (ref:386-388) even on error.
    * Returns the number of documents fetched.
    */
  def scrollPages(index: String, body: String, scrollTimeout: String = "5m")(
      onPage: Seq[(String, String)] => Unit): Long = {
    var data = send("POST", s"/$index/_search?scroll=$scrollTimeout", Some(body))
    var scrollId = data.path("_scroll_id").asText("")
    var total = 0L
    try {
      var hits = data.path("hits").path("hits")
      while (hits.size() > 0) {
        val page = (0 until hits.size()).map { i =>
          val h = hits.get(i)
          (h.path("_id").asText(""), om.writeValueAsString(h.path("_source")))
        }
        onPage(page)
        total += page.size
        data = send(
          "POST",
          "/_search/scroll",
          Some(s"""{"scroll":"$scrollTimeout","scroll_id":"$scrollId"}"""))
        scrollId = data.path("_scroll_id").asText(scrollId)
        hits = data.path("hits").path("hits")
      }
    } finally if (scrollId.nonEmpty) {
      // cleanup must not mask the original pagination failure (an
      // expired scroll makes the DELETE non-2xx on a real cluster)
      try send("DELETE", "/_search/scroll", Some(s"""{"scroll_id":"$scrollId"}"""))
      catch {
        case e: Exception =>
          System.err.println(s"[es] scroll cleanup failed (ignored): ${e.getMessage}")
      }
    }
    total
  }

  /** Open a point-in-time handle on `index` — ES 8's replacement for
    * the scroll context (the public docs deprecate scroll for deep
    * pagination): the PIT freezes a consistent searcher, pagination
    * itself becomes stateless `search_after` cursors over
    * `POST /_search`. Returns the PIT id.
    */
  def openPit(index: String, keepAlive: String = "5m"): String =
    send("POST", s"/$index/_pit?keep_alive=$keepAlive", None).path("id").asText("")

  /** Release a PIT (`DELETE /_pit` with the id in the body — the
    * same DELETE-with-body shape as scroll cleanup).
    */
  def closePit(pitId: String): Unit =
    send("DELETE", "/_pit", Some(s"""{"id":"$pitId"}"""))

  /** The modern cursor loop: PIT + `search_after` pagination with the
    * same page-streaming contract as [[scrollPages]] (one page on the
    * driver at a time, cleanup in `finally`). Each page's body comes
    * from [[EsSourceConfig.pitSearchBody]] — query + pit handle +
    * deterministic (sortField, _shard_doc) order — with the previous
    * page's last `sort` array as the cursor; the PIT id is re-read
    * from every response (ES may refresh the handle). Because the PIT
    * pins a snapshot, a SHORT page is definitive end-of-results (no
    * empty-page round-trip needed); a full final page still costs one
    * empty page, exactly like scroll. Returns documents fetched.
    */
  def pitSearchAfterPages(
      index: String,
      query: String,
      size: Int,
      sortField: String = "",
      keepAlive: String = "5m")(
      onPage: Seq[(String, String)] => Unit): Long = {
    var pitId = openPit(index, keepAlive)
    var searchAfter = ""
    var total = 0L
    try {
      var done = false
      while (!done) {
        val body = EsSourceConfig.pitSearchBody(size, query, pitId, keepAlive, sortField, searchAfter)
        val data = send("POST", "/_search", Some(body))
        pitId = data.path("pit_id").asText(pitId)
        val hits = data.path("hits").path("hits")
        if (hits.size() == 0) done = true
        else {
          val page = (0 until hits.size()).map { i =>
            val h = hits.get(i)
            (h.path("_id").asText(""), om.writeValueAsString(h.path("_source")))
          }
          onPage(page)
          total += page.size
          searchAfter = om.writeValueAsString(hits.get(hits.size() - 1).path("sort"))
          if (hits.size() < size) done = true
        }
      }
    } finally if (pitId.nonEmpty) {
      // cleanup must not mask the original pagination failure: a PIT
      // that already expired server-side makes closePit's send()
      // throw on the non-2xx, which would replace the real exception
      try closePit(pitId)
      catch {
        case e: Exception =>
          System.err.println(s"[es] closePit failed (ignored): ${e.getMessage}")
      }
    }
    total
  }
}

object EsRestClient {

  /** The (`_id`, `doc`) frame over documents fetched on the driver.
    * It is backed by an RDD, not a local relation: over a local
    * relation Catalyst folds every projection above it (`from_json`,
    * flatten, conform) into driver-side evaluation while planning —
    * interpreted, single-threaded and once per plan. Here that work
    * runs in tasks. The documents are sliced the way a local
    * relation's scan slices them (`min(n, leaf parallelism)` slices, in
    * order), so each partition, and thus each INSERT batch built from
    * it, holds the same documents as before.
    */
  def docFrame(spark: SparkSession, docs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val parallelism = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    spark.sparkContext.parallelize(docs, math.min(math.max(docs.size, 1), parallelism))
      .toDF("_id", "doc")
  }
}
