package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm queries reuse compiled classes: a second sweep of the `query`
  * benchmark's three queries compiles nothing. With Spark's default
  * class cache (100 entries in 4 independently evicting segments) the
  * sweep's working set cycles the LRU and most classes recompile on
  * every sweep; [[GraftSession.CodegenCacheEntries]] holds it.
  *
  * Warm table loads reuse inferred schemas (`Catalog.readParquet`), so
  * a warm run pays no footer job per table it loads; the job ceilings
  * below lock that. They run after the compile test in this suite: a
  * warm run of these queries anywhere earlier in the JVM would leave
  * the first sweep nothing to compile.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compilations while building and executing the sweep. */
  private def sweep(): Long = {
    val before = compiles
    Seq("graph_label_prop", "dedup_keep_best", "q5_join5").foreach { name =>
      SparkEntry.queries(name)(spark, sf001).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    compiles - before
  }

  test("a warm sweep of graph_label_prop, dedup_keep_best and q5_join5 compiles no code") {
    val first = sweep()
    // AQE numbers whole-stage codegen stages in the order it plans them,
    // which follows stage completion order, so a warm sweep can meet a
    // plan variant it has not compiled yet (the same code under another
    // `codegenStageId`). Variants stay cached, and a later sweep then
    // compiles nothing; an undersized cache recompiles on every sweep.
    val warm = scala.collection.mutable.ArrayBuffer(sweep())
    while (warm.last > 0 && warm.size < 3) warm += sweep()
    info(s"compilations: first sweep $first, warm sweeps ${warm.mkString(", ")}")
    assert(first > 0, "the first sweep must compile, or the counter is not wired")
    assert(warm.last == 0, s"every warm sweep recompiled: ${warm.mkString(", ")} classes")
  }

  test("q5_join5 at sf0.01, warm: at most 8 Spark jobs to build and execute") {
    val jobs = warmJobs("q5_join5")
    assert(jobs <= 8, s"$jobs jobs")
  }

  test("dedup_keep_best at sf0.01, warm: at most 7 Spark jobs to build and execute") {
    val jobs = warmJobs("dedup_keep_best")
    assert(jobs <= 7, s"$jobs jobs")
  }
}
