package graft

/** Spark jobs per graph query, build and execution together: the
  * label-propagation rounds of `graph_label_prop` run on the driver
  * below the size gate, so the query costs a fixed handful of jobs
  * instead of a join + aggregate + checkpoint per round.
  */
class GraphJobsSpec extends SparkSpec {

  private val sf001 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath

  test("graph_label_prop at sf0.01: at most 6 Spark jobs to build and execute") {
    val (_, jobs) = jobsDuring {
      SparkEntry.queries("graph_label_prop")(spark, sf001).write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache()
    info(s"$jobs jobs")
    assert(jobs <= 6, s"$jobs jobs")
  }
}
