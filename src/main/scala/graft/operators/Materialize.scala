package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The engine's one materialization rule: an operator returns with the
  * session's `CacheManager` as it found it.
  *
  * Every intermediate that an operator's returned (lazy) plan reads,
  * or that one of its loops re-reads, is materialized with
  * `localCheckpoint()`. That run is eager and cuts lineage, AQE sizes
  * its partitions (a cached plan keeps the full shuffle width), and
  * nothing enters `CacheManager`: no entry stays pinned to the session
  * after the query, and no registered entry changes the plan of a
  * later, unrelated query. The ContextCleaner frees the blocks once
  * nothing references the frame, so release is never the caller's
  * job. The blocks live on the executors only: losing an executor
  * fails a query that still reads them instead of recomputing them.
  *
  * Two `persist` sites remain, and each releases its cache before it
  * returns: `JsonIngest.pathCensus` (its VARIANT levels scan faster
  * from the columnar cache than from checkpoint blocks) and the
  * `try/finally`-scoped `PartitionedUpsert.merge` on the sync path.
  */
object Materialize {

  /** `df` checkpointed, with its row count read from the checkpoint's
    * own job through an `Observation` instead of a second `count()`.
    */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (cp, m) = observed(df, count(lit(1)).as("n"))
    (cp, m("n").asInstanceOf[Long])
  }

  /** `df` checkpointed, with named aggregates over its rows read from
    * the checkpoint's own job through an `Observation`, keyed by name.
    * An aggregate that sees no rows reads as its SQL value over an
    * empty input: `count` 0, `max` or `sum` null.
    */
  def observed(df: DataFrame, agg: Column, aggs: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val cp = df.observe(obs, agg, aggs: _*).localCheckpoint()
    (cp, obs.get)
  }
}
