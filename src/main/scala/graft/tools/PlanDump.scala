package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Optimization-round observability: write `.explain("formatted")` for
  * selected [[graft.SparkEntry.registry]] queries to files
  * (plans/<tag>/<query>_<suffix>.txt) so plan-shape claims in
  * OPTIMIZATION_*.md are checkable without a Spark install.
  *
  * Env:
  *   GRAFT_PLAN_QUERIES  comma-separated names (required; an unknown
  *                       name fails before the session starts)
  *   GRAFT_PLAN_DIR      output dir (default plans/r12)
  *   GRAFT_PLAN_SUFFIX   file suffix (default "before")
  *   SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
  *
  * Plans are captured pre-execution (AQE initial plan) — the stable,
  * code-derived shape; operators with eager phases still run those
  * phases during construction.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("GRAFT_PLAN_DIR", "plans/r12")
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "before")
    val selected = SparkEntry.select(sys.env.getOrElse("GRAFT_PLAN_QUERIES", ""))
    require(selected.nonEmpty, "set GRAFT_PLAN_QUERIES")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { q =>
      val n = q.name
      val df = q.build(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(
        Paths.get(s"$outDir/${n}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
