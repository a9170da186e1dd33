package graft

import org.apache.spark.sql.functions.col

import graft.operators.Materialize

/** `Materialize.counted` checkpoints a frame and takes its row count
  * from the checkpoint's own job.
  */
class MaterializeSpec extends SparkSpec {

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def frame = spark.range(0, 5000).selectExpr("id % 97 AS k", "id")
    .groupBy(col("k")).count()

  test("counted equals count() and returns the same rows") {
    val (cp, n) = Materialize.counted(frame)
    assert(n == frame.count())
    assert(n == 97L)
    assert(cp.orderBy("k").collect().toSeq == frame.orderBy("k").collect().toSeq)
  }

  test("counted returns 0 on an empty frame") {
    assert(Materialize.counted(frame.filter(col("k") < 0))._2 == 0L)
    assert(Materialize.counted(spark.range(0).toDF())._2 == 0L)
    assert(Materialize.counted(frame.limit(0))._2 == 0L)
  }

  test("counted runs fewer jobs than localCheckpoint() then count()") {
    val (_, observed) = jobsDuring(Materialize.counted(frame))
    val (_, twoStep) = jobsDuring { frame.localCheckpoint().count() }
    info(s"counted $observed jobs, localCheckpoint + count $twoStep jobs")
    assert(observed < twoStep, s"counted $observed jobs, localCheckpoint + count $twoStep jobs")
  }

  test("counted leaves the session's CacheManager untouched") {
    spark.catalog.clearCache()
    val (cp, _) = Materialize.counted(frame)
    cp.collect()
    assert(cacheEmpty)
  }
}
