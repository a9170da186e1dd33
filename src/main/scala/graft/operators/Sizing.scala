package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Byte-derived partition sizing for frames that are persisted (or
  * localCheckpointed) and then re-read by many downstream passes —
  * iteration loops, multi-pass rank selections, index probes.
  *
  * Why: a cached plan compiles WITHOUT adaptive execution
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is
  * false by default), so the cache materializes at the full
  * `spark.sql.shuffle.partitions` width no matter how small the data
  * is — and every downstream pass then schedules that many tasks.
  * For an iterative operator that re-reads the cache 2×rounds times,
  * the task floor dominates the whole query at small inputs (measured:
  * a bare count() on a cached 2k-row 32-partition frame costs
  * 0.23-0.40 s; a 5-round loop pays that ~10×).
  *
  * The rule is the scale-adaptive one the engine already applies to
  * iteration inputs (EmbedOps): ~2 MB of SOURCE bytes per partition,
  * clamped to [1, defaultParallelism]. Source bytes come from the
  * frame's input files (driver metadata, one status call per file,
  * stopping once the clamp is reached);
  * frames with no file lineage (pure in-memory test fixtures) keep
  * the default width. At cluster scale bytes/2MB ≫ parallelism, the
  * clamp wins, and [[coalesceForCache]] leaves the frame untouched —
  * the shrink only ever fires where the task floor, not the data,
  * is the cost.
  */
private[graft] object Sizing {

  /** Summed length of `files`, one status call per file on the
    * driver. The walk stops as soon as the sum reaches `cap`, so the
    * result is exact below the cap and a lower bound, at least `cap`,
    * of the full sum above it.
    */
  def inputBytes(spark: SparkSession, files: Seq[String], cap: Long): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val it = files.iterator
    var sum = 0L
    while (sum < cap && it.hasNext) {
      val p = new org.apache.hadoop.fs.Path(it.next())
      sum += (try p.getFileSystem(conf).getFileStatus(p).getLen catch { case _: java.io.IOException => 0L })
    }
    sum
  }

  /** Target partition count for a frame derived from `df`'s inputs:
    * bytes/2MB clamped to [1, defaultParallelism]; defaultParallelism
    * when the frame has no file lineage. From defaultParallelism ×
    * `bytesPerPartition` bytes on the clamp returns defaultParallelism,
    * so the file walk stops there.
    */
  def inputPartitions(df: DataFrame, bytesPerPartition: Long = 2L << 20): Int = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty) par
    else {
      val bytes = inputBytes(df.sparkSession, files.toIndexedSeq, par.toLong * bytesPerPartition)
      math.max(1L, math.min(par.toLong, bytes / bytesPerPartition + 1L)).toInt
    }
  }

  /** Shrink-only sizing for a frame about to be cached: coalesce —
    * never repartition, so no exchange is ever ADDED — down to the
    * byte-derived width when that is below defaultParallelism.
    * Coalesce cannot increase a partition count, so a frame that is
    * already narrow passes through unchanged.
    */
  def coalesceForCache(df: DataFrame, bytesPerPartition: Long = 2L << 20): DataFrame = {
    val target = inputPartitions(df, bytesPerPartition)
    if (target < df.sparkSession.sparkContext.defaultParallelism) df.coalesce(target) else df
  }
}
