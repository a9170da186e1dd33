package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Benchmark entry point: one workload, one run.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --data <parquet dir> --expected <queries json> --out <dir>
  * }}}
  *
  * Runs in a fresh working directory (index-staging queries write
  * under `./target`). Prints one JSON line as its last output line:
  * `correct`, `attempted`, `failed` and the metrics, end-to-end ones
  * with `--trace 0`, per-layer ones with `--trace 1`; the traced run
  * also writes its spans to `<out>/spans.jsonl`.
  */
object Main {
  val Workloads = Seq("sync_full", "query")

  /** Printed by traced runs, in this order; mirrors `per_layer` in BENCHMARK.json. */
  val PerLayer: Seq[(String, String)] = Seq(
    "es.read_ms" -> "ms", "es.requests" -> "count", "es.bytes" -> "bytes", "es.docs_per_row_landed" -> "ratio",
    "mongo.read_ms" -> "ms", "mongo.requests" -> "count", "mongo.bytes" -> "bytes",
    "chsrc.read_ms" -> "ms", "chsrc.requests" -> "count", "chsrc.rows_served_per_row_landed" -> "ratio",
    "write.ms" -> "ms", "write.batches" -> "count", "write.bytes" -> "bytes", "write.requests_per_batch" -> "ratio",
    "write.fallback_rows" -> "count", "write.failed_rows" -> "count",
    "ddl.requests_per_pass" -> "count", "ddl.ms" -> "ms", "state.ms" -> "ms",
    "pass.discover_ms" -> "ms", "pass.spark_jobs" -> "count", "pass.spark_task_ms" -> "ms",
    "pass.spark_util" -> "ratio", "pass.other_ms" -> "ms", "full_rows_per_s" -> "rows/s",
    "query.build_s" -> "s", "query.jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.plan_ms" -> "ms", "query.exec_s" -> "s",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.util" -> "ratio", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "cache.rdds_after_query" -> "count", "cache.mb_after_query" -> "MB") ++
    QueryBench.All.flatMap(q => Seq(s"q.$q.wall_s" -> "s", s"q.$q.jobs" -> "count")) ++
    Seq("latency_ms_p99" -> "ms", "fake.busy_ms" -> "ms", "trace.overhead" -> "ratio",
      "error_rate" -> "ratio")

  /** Fewest measured units (passes, sweeps) per run. */
  val MinUnits = 3

  val cores: Int = Runtime.getRuntime.availableProcessors
  val sparkCounters = new SparkCounters
  private var spark: SparkSession = _

  def drainListeners(): Unit = org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

  def setJobTrace(id: String): Unit = spark.sparkContext.setLocalProperty(SparkCounters.TraceKey, id)

  /** Units 1, 2, 3, 4, … run untraced, traced, traced, untraced, …: the
    * ABBA order keeps a steady warm-up drift out of `trace.overhead`.
    */
  def tracedUnit(k: Int): Boolean = k % 4 == 2 || k % 4 == 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val outDir = opts.getOrElse("out", ".")

    HeapWatch.install()
    spark = graft.GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(sparkCounters)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Trace.driverThread = Thread.currentThread()
    Trace.onDriverSpan = id => spark.sparkContext.setLocalProperty(SparkCounters.ParentKey, id.toString)

    val out = new Outcome
    val seedings = mutable.ArrayBuffer[Double]()
    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    /** Runs `unit` until `seconds` have passed and at least [[MinUnits]]
      * units ran, so every run's median has the same footing; a traced
      * run traces units in ABBA order ([[tracedUnit]]).
      */
    def measure(unit: Int => Unit): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var k = 1
      // a traced run completes one ABBA group
      while (k <= (if (traced) 4 else MinUnits) || System.nanoTime() < deadline) {
        Trace.on = traced && tracedUnit(k)
        out.unitTraced += Trace.on
        HeapWatch.reset()
        unit(k)
        out.unitHeapMb += HeapWatch.peakMb
        k += 1
      }
      Trace.on = false
    }

    var warmupS = 0.0
    workload match {
      case "sync_full" =>
        val w = new SyncFull(spark, seed, cores)
        try {
          (1 to 3).foreach(_ => seedings += timed(w.seedSources()))
          // three checked, unrecorded passes: one cold, two past most of the JIT warm-up
          warmupS = timed((1 to 3).foreach(_ => w.pass(0, out, record = false)))
          measure(k => w.pass(k, out, record = true))
        } finally w.close()
      case "query" =>
        val qb = new QueryBench(spark, seed, QueryBench.All, opts("data"))
        val expected = Expectations.load(opts("expected"))
        // the checked sweep runs cold; a second, unrecorded sweep leaves
        // the measured ones past most of the JIT warm-up
        warmupS = timed { qb.verify(expected, out); qb.sweep(new Outcome) }
        measure(_ => qb.sweep(out))
    }
    System.gc()
    val setupS = sessionS + Stats.median(seedings.toSeq) + warmupS

    val lat = out.latencyMs.toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(("setup_s", setupS, "s"), ("op_ms_p50", Stats.median(out.unitMs.toSeq), "ms"),
          ("latency_ms_p50", Stats.pct(lat, 50), "ms"), ("peak_heap_mb", Stats.median(out.unitHeapMb.toSeq), "MB"))
      } else {
        val keys = out.layers.flatMap(_.keys).distinct
        val med = keys.map(k => k -> Stats.median(out.layers.flatMap(_.get(k)).toSeq)).toMap
        val walls = out.unitMs.zip(out.unitTraced)
        val on = walls.collect { case (w, true) => w }.toSeq
        val off = walls.collect { case (w, false) => w }.toSeq
        val derived = Map("latency_ms_p99" -> Stats.pct(lat, 99),
          "trace.overhead" -> (if (on.nonEmpty && off.nonEmpty) Stats.median(on) / Stats.median(off) else 1.0),
          "error_rate" -> (if (out.attempted > 0) out.failed.toDouble / out.attempted else 0.0))
        PerLayer.map { case (k, u) => (k, derived.getOrElse(k, med.getOrElse(k, 0.0)), u) }
      }
    if (traced) {
      new java.io.File(outDir).mkdirs()
      Trace.write(s"$outDir/spans.jsonl")
    }
    System.err.println(f"[bench] $workload seed=$seed units=${out.unitMs.size} samples=${out.latencyMs.size} " +
      f"session=$sessionS%.2fs seedings=${seedings.map(r => f"$r%.2f").mkString("/")}s warmup=$warmupS%.2fs " +
      f"attempted=${out.attempted} failed=${out.failed} unit_ms=${out.unitMs.map(u => f"$u%.0f").mkString(",")}")
    metrics.foreach { case (k, v, u) => System.err.println(f"[bench]   $k%-36s $v%14.4f $u") }
    spark.stop()
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},"metrics":{$m}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Stored query expectations: `{"name": {"rows": n, "sha256": "…"}}`. */
object Expectations {
  def load(path: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path)).path("queries")
    root.fields().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong(), e.getValue.path("sha256").asText(""))
    }.toMap
  }
}
