package graft

import java.nio.file.Files

import graft.operators.Sizing

/** `Sizing.inputPartitions` walks the input files only up to the byte
  * count where its clamp takes over; the width it returns must be the
  * one the full sum gives.
  */
class SizingSpec extends SparkSpec {

  test("inputPartitions equals the full-sum formula on both sides of the clamp; the capped walk stops early") {
    val dir = Files.createTempDirectory("graft_sizing").toString + "/t"
    spark.range(0, 20000).selectExpr("id", "cast(id * 7 as string) as s")
      .repartition(8).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val files = df.inputFiles.toIndexedSeq
    assert(files.length == 8)
    val full = Sizing.inputBytes(spark, files, Long.MaxValue)
    val par = spark.sparkContext.defaultParallelism
    def formula(b: Long): Int = math.max(1L, math.min(par.toLong, full / b + 1L)).toInt
    // below the clamp (one partition, then most of the parallelism),
    // just past it and far past it
    val widths = Seq(full + 1, full * 2 / par, full / par, 1L)
    widths.foreach(b => assert(Sizing.inputPartitions(df, b) == formula(b), s"bytesPerPartition $b"))
    assert(widths.map(formula).distinct.size >= 3, widths.map(formula))
    assert(formula(1L) == par && formula(full + 1) == 1)
    // a cap below the sum stops the walk before the last file
    val capped = Sizing.inputBytes(spark, files, cap = full / 4)
    assert(capped >= full / 4 && capped < full, s"capped $capped, full $full")
    assert(Sizing.inputBytes(spark, files, cap = full) == full)
  }
}
