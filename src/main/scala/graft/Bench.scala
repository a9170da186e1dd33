package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every [[SparkEntry.registry]] query,
  * in registry order, at SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is fully materialized through the noop sink (forces
  * complete execution of every operator — `count()` would let Catalyst
  * prune the projections we want measured). One untimed warm-up query
  * absorbs one-time session/codegen costs so numbers reflect
  * steady-state throughput. The session's codegen class cache
  * ([[GraftSession.CodegenCacheEntries]]) holds a query's classes
  * between its runs and across neighbouring queries, so "warm" means
  * no recompilation, not only a second run.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Optional comma-separated subset for iterating on one query's
    // plan without paying for the whole suite.
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(SparkEntry.registry)(SparkEntry.select).map(_.name)
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // names of queries that threw in any run, in first-failure order:
    // a failed run is still timed below, so the JSON must say which
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => failed += name; throw e }

    run("q1_pricing") // warm-up, untimed

    // min of N runs: the first pays one-time plan/codegen compilation,
    // later runs measure steady-state throughput (what a long-running
    // cluster job sees). The later runs reuse the first run's compiled
    // classes: GraftSession sizes the codegen cache above one query's
    // working set (Spark's 100-entry default evicted them between runs
    // and across queries, so "warm" still recompiled). Sub-second
    // queries get a third run so one noisy-neighbor hiccup can't
    // distort a number that small. The
    // noise tie-break deliberately does NOT compare warm vs cold —
    // cold includes compilation and exceeds warm*1.25 almost always,
    // which would silently make this min-of-3 for every query (a
    // measured systematic bench-time increase, not a variance guard).
    // Instead the third run fires only when the WARM sample itself is
    // suspect: slower than the cold run (steady state can't cost more
    // than compile+run, so the warm sample hit GC/neighbor noise).
    val results = selected.map { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try run(name)
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      val t =
        if (cold >= 60.0) cold
        else {
          val second = once()
          val warm = math.min(cold, second)
          if (warm < 1.0 || second > cold)
            math.min(warm, once())
          else warm
        }
      // drop this query's internally-persisted frames (LSH buckets,
      // selection bases, ...): leaving ~100 queries' caches to fight
      // over executor memory evicts mid-measurement and makes later
      // queries pay eviction+respill instead of their own cost
      spark.catalog.clearCache()
      // NO System.gc() here: measured round-10, a forced full GC per
      // query made the NEXT query's runs uniformly ~0.7-1.9s slower
      // (heap uncommit / re-commit after the full collection) —
      // +35s across the 218-query suite at sf0.1. The tie-breaking
      // third run above is the variance guard; the GC was a trap.
      name -> t
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson}"""
    println(json)
    // Also write to a file: the stdout line gets buried in sbt [info]
    // noise, which left the driver's BENCH parse empty in round 1.
    // subset runs must not clobber the committed full-suite artifact
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "bench_subset.json" else "bench_out.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    // The full line above is ~4 KB at 140+ queries — longer than a
    // tail-window stdout parse can see the START of (every BENCH_r*
    // artifact so far has parsed:null for exactly this reason). Emit a
    // SHORT summary as the LAST line: total + the slowest queries,
    // pointing at the file carrying the complete per-query map.
    val slow = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$slow,"queries_note":"10 slowest; full map in $out","sf":"$sfDir","failed":$failedJson}""")
    spark.stop()
  }
}
