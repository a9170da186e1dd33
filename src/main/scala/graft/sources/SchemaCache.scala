package graft.sources

/** The one bounded-cache policy: a string key (which must pin the data
  * version the value was derived from) to a value — an inferred
  * StructType, a fitted set of centroids — least-recently-used entries
  * evicted past [[SchemaCache.Capacity]], so a long-lived session does
  * not grow it forever. Callers compute outside the lock: two threads
  * that miss on one key both compute, and both put the same value.
  */
private[graft] final class SchemaCache[V] {

  private val entries =
    new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        this.size > SchemaCache.Capacity
    }

  def get(key: String): Option[V] = entries.synchronized(Option(entries.get(key)))

  def put(key: String, value: V): Unit = entries.synchronized(entries.put(key, value))

  def size: Int = entries.synchronized(entries.size)
}

private[graft] object SchemaCache {
  val Capacity = 64
}
