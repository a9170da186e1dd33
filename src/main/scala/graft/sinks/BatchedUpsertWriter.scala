package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Batched INSERT writer for a JDBC-style sink with the reference's
  * failure semantics (es_to_bytehouse.py:675-736 `insert_batch`): try
  * the whole batch; if the batch fails, fall back to row-at-a-time and
  * keep the rows that succeed.
  *
  * The statement executor is injected (`ChHttpBatchExecutor`, over
  * ClickHouse's HTTP interface, in production; a recording fake in
  * tests) so the partition-parallel batching, ordering and fallback
  * logic — the part that matters at scale — is testable without a
  * live database.
  * Executors run one per partition: writer parallelism == partition
  * count, exactly how a ClickHouse bulk load should be driven.
  *
  * `maxOf` folds a `max` aggregate into the write: each expression
  * rides the written frame as a trailing column that is never inserted,
  * and every task keeps the running maximum of what it saw. A sync pass
  * learns its batch's newest watermark this way without a second plan,
  * job or source read, so the write is the pass's only Spark job.
  */
object BatchedUpsertWriter {

  /** Executes one INSERT for a batch of rows. Implementations must be
    * serializable (constructed per partition via the factory).
    */
  trait BatchExecutor extends Serializable {
    def execute(insertSql: String, rows: Seq[Seq[Any]]): Unit
    def close(): Unit = ()
  }

  /** Most error messages a write keeps for rows that failed even alone. */
  val MaxErrorSamples = 3

  /** `errors`: up to [[MaxErrorSamples]] messages of rows lost after
    * the row-at-a-time retry. `maxima`: one value per `maxOf`
    * expression, the maximum over every row of the frame in Spark's
    * string order (UTF-8 bytes, what `agg(max(…))` returns); `""` when
    * the column held no non-null value.
    */
  case class WriteStats(
      batches: Long,
      rows: Long,
      fallbackRows: Long,
      failedRows: Long,
      errors: Seq[String] = Nil,
      maxima: Seq[String] = Nil)

  /** The larger of two nullable strings in Spark's string order. */
  private def maxUtf8(a: UTF8String, b: UTF8String): UTF8String =
    if (a == null) b else if (b == null || a.compareTo(b) >= 0) a else b

  def write(
      df: DataFrame,
      db: String,
      table: String,
      batchSize: Int,
      executorFactory: () => BatchExecutor,
      maxOf: Seq[Column] = Nil
  ): WriteStats = {
    val columns = df.columns.toIndexedSeq
    val sql = ClickHouseDdl.insertSql(db, table, columns)
    val n = columns.size
    val frame =
      if (maxOf.isEmpty) df
      else df.select(col("*") +: maxOf.zipWithIndex.map { case (c, i) => c.as(s"__max$i") }: _*)
    frame.schema.fields.drop(n).foreach(f =>
      require(f.dataType == StringType, s"maxOf expressions must be strings, got ${f.dataType}"))
    val nMax = maxOf.size
    val counters = df.sparkSession.sparkContext.collectionAccumulator[WriteStats]("upsert_stats")
    frame.foreachPartition { (rows: Iterator[Row]) =>
      val exec = executorFactory()
      var batches = 0L; var ok = 0L; var fallback = 0L; var failed = 0L
      val errors = scala.collection.mutable.ArrayBuffer[String]()
      val maxima = new Array[UTF8String](nMax)
      try {
        rows.grouped(batchSize).foreach { group =>
          group.foreach { r =>
            var j = 0
            while (j < nMax) {
              if (!r.isNullAt(n + j)) maxima(j) = maxUtf8(maxima(j), UTF8String.fromString(r.getString(n + j)))
              j += 1
            }
          }
          val batch = group.map(r => columns.indices.map(r.get))
          try {
            exec.execute(sql, batch)
            batches += 1
            ok += batch.size
          } catch {
            case _: Exception =>
              // reference behavior: degrade to row-at-a-time, keep survivors
              batch.foreach { row =>
                try { exec.execute(sql, Seq(row)); fallback += 1 }
                catch {
                  case e: Exception =>
                    failed += 1
                    if (errors.size < MaxErrorSamples) errors += e.toString
                }
              }
          }
        }
      } finally exec.close()
      counters.add(WriteStats(batches, ok + fallback, fallback, failed, errors.toSeq,
        maxima.toSeq.map(m => Option(m).map(_.toString).orNull)))
    }
    import scala.jdk.CollectionConverters._
    val parts = counters.value.asScala.toSeq
    val maxima = (0 until nMax).map { j =>
      val m = parts.map(p => UTF8String.fromString(p.maxima(j))).foldLeft(null: UTF8String)(maxUtf8)
      if (m == null) "" else m.toString
    }
    WriteStats(
      parts.map(_.batches).sum, parts.map(_.rows).sum, parts.map(_.fallbackRows).sum,
      parts.map(_.failedRows).sum, parts.flatMap(_.errors).take(MaxErrorSamples), maxima)
  }
}
