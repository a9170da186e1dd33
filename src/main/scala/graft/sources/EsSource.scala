package graft.sources

/** Elasticsearch source configuration: the reference's environment
  * config (es_to_bytehouse.py:136-162) plus the search bodies of its
  * full (577-673) and incremental (825-868) syncs. `WireSync` reads
  * through [[EsRestClient]] with this config (scroll size and
  * keep-alive per request), and the bodies below are what goes on the
  * wire, unit-tested byte-for-byte against the reference's.
  */
case class EsSourceConfig(
    host: String, // ES_HOST, scheme://host:port
    user: String = "", // ES_USER
    password: String = "", // ES_PASSWORD
    indexPattern: String = "*", // INDEX_PATTERN
    scrollSize: Int = 1000, // SCROLL_SIZE
    scrollTimeout: String = "5m" // SCROLL_TIMEOUT
)

object EsSourceConfig {

  /** Build from the reference's environment variables
    * (es_to_bytehouse.py:136-162): ES_HOST, ES_USER, ES_PASSWORD,
    * INDEX_PATTERN, SCROLL_SIZE, SCROLL_TIMEOUT.
    */
  def fromEnv(env: Map[String, String]): EsSourceConfig =
    EsSourceConfig(
      host = env.getOrElse("ES_HOST", ""),
      user = env.getOrElse("ES_USER", ""),
      password = env.getOrElse("ES_PASSWORD", ""),
      indexPattern = env.getOrElse("INDEX_PATTERN", "*"),
      scrollSize = env.getOrElse("SCROLL_SIZE", "1000").toInt,
      scrollTimeout = env.getOrElse("SCROLL_TIMEOUT", "5m")
    )

  private def rangeClause(field: String, gt: String): String =
    s"""{"range":{"$field":{"gt":"$gt"}}}"""

  /** The incremental bool query the reference issues
    * (es_to_bytehouse.py:843-868): a plain range filter, or — when an
    * update-time watermark exists — `should` over both ranges with
    * `minimum_should_match: 1` (insert-or-update).
    */
  def incrementalQuery(
      timeField: String,
      sinceTime: String,
      updateTimeField: String = "",
      sinceUpdateTime: String = ""
  ): String =
    if (updateTimeField.nonEmpty && sinceUpdateTime.nonEmpty)
      s"""{"bool":{"should":[${rangeClause(timeField, sinceTime)},""" +
        s"""${rangeClause(updateTimeField, sinceUpdateTime)}],"minimum_should_match":1}}"""
    else
      s"""{"bool":{"filter":[${rangeClause(timeField, sinceTime)}]}}"""

  /** Full search body for one incremental pass — size + query + the
    * ascending time sort the reference adds (es_to_bytehouse.py:863-868)
    * so a crash resumes from a monotone watermark.
    */
  def incrementalSearchBody(
      scrollSize: Int,
      timeField: String,
      sinceTime: String,
      updateTimeField: String = "",
      sinceUpdateTime: String = ""
  ): String =
    s"""{"size":$scrollSize,"query":${incrementalQuery(timeField, sinceTime, updateTimeField, sinceUpdateTime)},""" +
      s""""sort":[{"$timeField":"asc"}]}"""

  /** Full-sync body (es_to_bytehouse.py:586-590): match_all at scroll
    * size.
    */
  def fullSearchBody(scrollSize: Int): String =
    s"""{"size":$scrollSize,"query":{"match_all":{}}}"""

  /** PIT + search_after page body — ES 8's replacement for the scroll
    * cursor (scroll is deprecated for deep pagination; a point-in-time
    * handle freezes the searcher and `search_after` carries an
    * explicit cursor, so pagination is stateless server-side and
    * restartable). Shape per the public Search-After/PIT docs:
    * size + query + `pit:{id, keep_alive}` (PIT requests hit
    * `POST /_search` with NO index in the path — the handle pins the
    * index) + a DETERMINISTIC total order: the caller's time sort
    * tie-broken by `_shard_doc`, ES's built-in unique PIT sort key.
    * `searchAfter` is the previous page's last `sort` array verbatim;
    * empty on page one.
    */
  def pitSearchBody(
      size: Int,
      query: String,
      pitId: String,
      keepAlive: String,
      sortField: String = "",
      searchAfter: String = ""
  ): String = {
    val sort =
      if (sortField.nonEmpty) s"""[{"$sortField":"asc"},{"_shard_doc":"asc"}]"""
      else """[{"_shard_doc":"asc"}]"""
    val sa = if (searchAfter.nonEmpty) s""","search_after":$searchAfter""" else ""
    s"""{"size":$size,"query":$query,"pit":{"id":"$pitId","keep_alive":"$keepAlive"},"sort":$sort$sa}"""
  }
}
