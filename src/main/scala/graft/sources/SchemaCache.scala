package graft.sources

import org.apache.spark.sql.types.StructType

/** The one schema-cache policy: a string key (which must pin the data
  * version the schema was inferred from) to an inferred StructType,
  * least-recently-used entries evicted past [[SchemaCache.Capacity]],
  * so a long-lived session does not grow it forever. Callers infer
  * outside the lock: two threads that miss on one key both infer, and
  * both put the same schema.
  */
private[graft] final class SchemaCache {

  private val entries =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
        this.size > SchemaCache.Capacity
    }

  def get(key: String): Option[StructType] = entries.synchronized(Option(entries.get(key)))

  def put(key: String, schema: StructType): Unit = entries.synchronized(entries.put(key, schema))

  def size: Int = entries.synchronized(entries.size)
}

private[graft] object SchemaCache {
  val Capacity = 64
}
