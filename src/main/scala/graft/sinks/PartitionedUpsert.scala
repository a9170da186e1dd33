package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.operators.Incremental

/** Partition-pruned incremental upsert — the scale-safe form of the
  * reference's per-batch merge (es_to_bytehouse.py:825-1006). The
  * naive merge reads and rewrites the WHOLE target every batch; at
  * 100 TB that is 100 TB of IO per micro-batch. Here the target is
  * partitioned (typically by create-date) and a batch:
  *
  *   1. lists the partitions present in the delta (one distinct over
  *      the batch — driver-side metadata, never a scan of the base),
  *   2. reads ONLY those partition directories of the base,
  *   3. upsert-merges delta into them,
  *   4. writes back with dynamic partition overwrite, which replaces
  *      exactly the partitions present in the merged frame.
  *
  * Untouched partitions' files are never read or rewritten (asserted
  * byte-identical in SyncSpec). IO per batch is proportional to the
  * delta's partition footprint, not the table size.
  *
  * Requirement: `partCol` must be immutable per key (e.g. a
  * create-date), so every version of a key lands in the same
  * partition; otherwise a key that "moves" partitions would leave its
  * old version behind. This mirrors the reference's ReplacingMergeTree
  * layout where dedup happens within a partition. `partCol` values
  * must be non-null.
  */
object PartitionedUpsert {

  /** Merge `delta` into the partitioned parquet target with upsert
    * semantics (latest version per key wins), touching only the
    * partitions the delta lands in. The caller counts the delta (the
    * lake pass observes it on this write); `delta` is cached here
    * because the partition listing and the merge both read it.
    */
  def merge(
      spark: SparkSession,
      delta: DataFrame,
      targetDir: String,
      keyCols: Seq[String],
      orderCols: Seq[String],
      partCol: String
  ): Unit = {
    val tgtP = new Path(targetDir)
    val fs = tgtP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = delta.persist()
    try {
      if (!fs.exists(tgtP)) return writeFull(d, targetDir, partCol)
      val deltaT = d.schema(partCol).dataType
      val parts = d.select(col(partCol)).distinct().collect().map(_.get(0))
      require(!parts.contains(null), s"partition column $partCol must be non-null")
      // Explicit directory selection instead of a pruning filter: no
      // dependence on partition-type inference matching the delta's
      // type, and the read provably opens only these directories.
      val touched = parts.map(v =>
        new Path(tgtP, s"$partCol=${ExternalCatalogUtils.escapePathName(v.toString)}"))
      val existing = touched.filter(fs.exists)
      val merged =
        if (existing.isEmpty) Incremental.latestPerKey(d, keyCols, orderCols)
        else {
          val base = spark.read
            .option("basePath", targetDir)
            .parquet(existing.map(_.toString).toIndexedSeq: _*)
            .withColumn(partCol, col(partCol).cast(deltaT))
          Incremental.mergeUpsert(base, d, keyCols, orderCols)
        }
      merged.write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(targetDir)
    } finally d.unpersist()
  }

  /** First full load of a partitioned target. */
  def writeFull(df: DataFrame, targetDir: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(targetDir)

  /** Promote `tmpDir` to `targetDir` with every rename checked: move
    * the old target aside, promote tmp, drop the old copy. A failed
    * promote restores the previous target and throws — callers must
    * not advance sync state past an exception (a silently-ignored
    * rename previously risked losing the target AND advancing the
    * watermark, orphaning the batch).
    *
    * CONSTRAINT: rename-based, so correct only where directory rename
    * is atomic — HDFS and local filesystems. On S3-style object
    * stores a directory rename is per-object copy + delete (a crash
    * mid-promote strands a half-moved table).
    */
  def promote(fs: FileSystem, tmpDir: String, targetDir: String): Unit = {
    val tmpP = new Path(tmpDir)
    val tgtP = new Path(targetDir)
    // the aside copy is DOT-PREFIXED: when targetDir is a partition dir
    // inside a table root (Writers.compact), a visible `day=X__old`
    // sibling would be discovered as a bogus partition VALUE by any
    // concurrent reader — and permanently, if a crash lands between
    // the two renames. Hidden dirs are skipped by partition discovery,
    // so the worst crash outcome is a missing partition to restore by
    // hand, never silently-wrong rows.
    val oldP = new Path(tgtP.getParent, s".${tgtP.getName}__old")
    // some FileSystems return false on failure, others throw
    def tryRename(src: Path, dst: Path): Boolean =
      try fs.rename(src, dst)
      catch { case _: java.io.IOException => false }
    fs.delete(oldP, true)
    val hadTarget = fs.exists(tgtP)
    if (hadTarget && !tryRename(tgtP, oldP))
      sys.error(s"promote: could not move $tgtP aside")
    if (!tryRename(tmpP, tgtP)) {
      if (hadTarget) tryRename(oldP, tgtP) // restore previous target
      sys.error(s"promote: could not promote $tmpP to $tgtP")
    }
    fs.delete(oldP, true)
  }
}
