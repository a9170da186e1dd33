package graft

import org.apache.spark.sql.functions.{col, count, lit, max, sum}

import graft.operators.Materialize

/** `Materialize.counted` checkpoints a frame and takes its row count
  * from the checkpoint's own job; `Materialize.observed` does the same
  * for any named aggregates.
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

  test("observed reads several aggregates from the checkpoint's one job; no rows read count 0 and max null") {
    val (cp, m) = Materialize.observed(frame,
      count(lit(1)).as("n"), sum(col("count")).as("s"), max(col("k")).as("mx"))
    assert(m == Map("n" -> 97L, "s" -> 5000L, "mx" -> 96L))
    assert(cp.count() == 97L)
    val (_, several) = jobsDuring(Materialize.observed(frame, count(lit(1)).as("n"), max(col("k")).as("mx")))
    val (_, one) = jobsDuring(Materialize.counted(frame))
    assert(several == one, s"observed $several jobs, counted $one jobs")
    val (_, e) = Materialize.observed(frame.filter(col("k") < 0), count(lit(1)).as("n"), max(col("k")).as("mx"))
    assert(e("n") == 0L && e("mx") == null)
  }

  test("counted leaves the session's CacheManager untouched") {
    spark.catalog.clearCache()
    val (cp, _) = Materialize.counted(frame)
    cp.collect()
    assert(cacheEmpty)
  }
}
