package graftbench

import org.apache.spark.sql.{Row, SparkSession}

import java.security.MessageDigest
import scala.util.Random

import graft.SparkEntry

/** The `query` workload: sweeps of a fixed list of `SparkEntry`
  * queries, each fully executed into the `noop` sink. The seed fixes
  * the order of the queries within a sweep.
  */
final class QueryBench(spark: SparkSession, seed: Long, names: Seq[String], dataDir: String) {
  val order: Seq[String] = new Random(seed).shuffle(names)

  /** One pass over the list, collecting each result and comparing its
    * digest with the stored expectation.
    */
  def verify(expected: Map[String, (Long, String)], out: Outcome): Unit = {
    order.foreach(check(expected, out, _))
    Main.drainListeners()
  }

  private def check(expected: Map[String, (Long, String)], out: Outcome, name: String): Unit = {
    out.attempted += 1
    val ok =
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        val (n, h) = QueryBench.digest(df.columns.toIndexedSeq, df.collect().toIndexedSeq)
        expected.get(name) match {
          case Some((en, eh)) if en == n && (eh.isEmpty || eh == h) => true
          case e =>
            System.err.println(s"[check] $name: got $n rows $h, want ${e.getOrElse("<no expectation>")}")
            false
        }
      } catch {
        case e: Exception => System.err.println(s"[check] $name failed: $e"); false
      } finally spark.catalog.clearCache()
    if (!ok) out.failed += 1
  }

  /** One sweep. Per query: build (the `SparkEntry.queries` call), plan
    * (forcing the executed plan) and execution (the noop write). The
    * listener bus is drained after each query, outside the sweep wall,
    * so each query's Spark counters are complete when read.
    */
  def sweep(out: Outcome): Unit = {
    val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
    val s0 = Main.sparkCounters.snapshot
    val t0 = System.nanoTime()
    var failed = 0
    var (build, plan, exec) = (0L, 0L, 0L)
    var (rdds, cacheBytes) = (0.0, 0.0)
    var drainNs = 0L
    order.foreach { name =>
      Trace.traceId = name
      Main.setJobTrace(name)
      val j0 = Main.sparkCounters.jobs.sum
      val q0 = System.nanoTime()
      try Trace.span("query") {
        val df = Trace.span("query.build")(SparkEntry.queries(name)(spark, dataDir))
        val q1 = System.nanoTime()
        Trace.span("query.plan")(df.queryExecution.executedPlan)
        val q2 = System.nanoTime()
        Trace.span("query.exec")(df.write.format("noop").mode("overwrite").save())
        val q3 = System.nanoTime()
        build += q1 - q0; plan += q2 - q1; exec += q3 - q2
      } catch {
        case e: Exception => failed += 1; System.err.println(s"[query] $name failed: $e")
      }
      val wall = (System.nanoTime() - q0) / 1e6
      out.latencyMs += wall
      val d0 = System.nanoTime()
      Main.drainListeners()
      drainNs += System.nanoTime() - d0
      val held = spark.sparkContext.getPersistentRDDs.size
      val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      rdds += held; cacheBytes += bytes
      spark.catalog.clearCache()
      layers(s"q.$name.wall_s") = wall / 1e3
      layers(s"q.$name.jobs") = (Main.sparkCounters.jobs.sum - j0).toDouble
    }
    val wallNs = System.nanoTime() - t0 - drainNs
    out.unitMs += wallNs / 1e6
    out.attempted += order.size
    out.failed += failed
    val s1 = Main.sparkCounters.snapshot
    def d(k: String) = (s1(k) - s0(k)).toDouble
    out.layers += layers.toMap ++ Map(
      "query.build_s" -> build / 1e9, "query.plan_ms" -> plan / 1e6, "query.exec_s" -> exec / 1e9,
      "query.jobs" -> d("jobs"), "query.stages" -> d("stages"), "query.tasks" -> d("tasks"),
      "spark.task_s" -> d("run_ms") / 1e3, "spark.cpu_s" -> d("cpu_ns") / 1e9,
      "spark.util" -> d("run_ms") * 1e6 / (wallNs.toDouble * Main.cores),
      "spark.shuffle_read_mb" -> d("shuffle_read") / 1048576.0,
      "spark.shuffle_write_mb" -> d("shuffle_write") / 1048576.0,
      "spark.spill_mb" -> d("spill") / 1048576.0, "spark.gc_s" -> d("gc_ms") / 1e3,
      "cache.rdds_after_query" -> rdds, "cache.mb_after_query" -> cacheBytes / 1048576.0)
  }
}

object QueryBench {
  /** Orchestration-bound queries: eager work in the query call (rounds,
    * checkpoints, collects) and materialisation dominate.
    */
  val Iterative: Seq[String] = Seq("graph_label_prop", "dedup_keep_best")

  /** Scan-bound queries: little build time; execution and shuffle dominate. */
  val Scan: Seq[String] = Seq("q5_join5")

  val All: Seq[String] = Iterative ++ Scan

  /** Canonical text of one value: integers in decimal, decimals without
    * trailing zeros, NULL as `\N`, arrays and structs bracketed.
    */
  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: java.lang.Boolean => b.toString
    case n: java.lang.Byte => n.toString
    case n: java.lang.Short => n.toString
    case n: java.lang.Integer => n.toString
    case n: java.lang.Long => n.toString
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros.toPlainString
      if (s == "0.0") "0" else s
    case d: java.lang.Double => if (d == math.rint(d) && math.abs(d) < 1e15) d.longValue.toString else d.toString
    case f: java.lang.Float => cell(f.toDouble)
    case s: String => s
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case other => other.toString
  }

  /** (row count, sha256 of the sorted canonical rows, columns by name). */
  def digest(columns: IndexedSeq[String], rows: IndexedSeq[Row]): (Long, String) = {
    val idx = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => idx.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.size.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
