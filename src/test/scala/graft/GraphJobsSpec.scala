package graft

/** Spark jobs per graph query, build and execution together: the
  * label-propagation rounds of `graph_label_prop` run on the driver
  * below the size gate, so the query costs a fixed handful of jobs
  * instead of a join + aggregate + checkpoint per round. The warm
  * ceilings (a second run, schemas cached) lock the job counts of
  * `graph_hits` and of the near-dup pair queries.
  */
class GraphJobsSpec extends SparkSpec {

  test("graph_label_prop at sf0.01: at most 6 Spark jobs to build and execute") {
    val (_, jobs) = jobsDuring {
      SparkEntry.queries("graph_label_prop")(spark, sf001).write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache()
    info(s"$jobs jobs")
    assert(jobs <= 6, s"$jobs jobs")
  }

  // Warm ceilings at the measured counts. HITS observes each half-step's
  // maximum on its checkpoint's job; the near-dup pairs run on the
  // driver below the posting-entry gate, and their components are found
  // from that local list with no further job.
  for ((name, ceiling) <- Seq(
      "graph_hits" -> 37, "dedup_ngram_jaccard" -> 3, "dedup_clusters" -> 6, "curate_corpus" -> 8))
    test(s"$name at sf0.01, warm: at most $ceiling Spark jobs to build and execute") {
      val jobs = warmJobs(name)
      assert(jobs <= ceiling, s"$jobs jobs")
    }
}
