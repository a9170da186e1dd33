package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.Catalog
import graft.sync.SyncRunner

/** An incremental lake pass pushes its watermark filter into the
  * parquet scan, so source files whose row groups all lie at or below
  * the watermark are skipped instead of decoded.
  */
class LakeDeltaPushdownSpec extends SparkSpec {

  private def tmp(prefix: String): String = java.nio.file.Files.createTempDirectory(prefix).toString

  test("an incremental autoSync pass shows the watermark predicate under the scan's PushedFilters") {
    val cutoffUs = 1705276800000000L // 2024-01-15
    val events = Catalog.load(spark, sf, "events")
    // a lake directory that grows by appended files: the old rows in
    // 8 files, then the new rows in 2 more. Timestamps are written as
    // INT64 micros, as the source tables are: parquet keeps no usable
    // statistics for Spark's default INT96, so nothing could be pruned.
    val srcDir = tmp("graft_pushdown_src") + "/events"
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      try {
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        df.write.mode(mode).parquet(srcDir)
      } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    write(events.filter(unix_micros(col("ts")) <= cutoffUs).repartition(8), "errorifexists")
    val stateDir = tmp("graft_pushdown_state") + "/state"
    val targetDir = tmp("graft_pushdown_target") + "/events"
    def pass(now: Long) = SyncRunner.autoSync(spark, spark.read.parquet(srcDir), "events", Seq("event_id"),
      "ts", Seq("ts", "event_id"), targetDir, stateDir, nowUs = now)
    val nOld = spark.read.parquet(srcDir).count()
    assert(pass(1L) == ("full", nOld))
    write(events.filter(unix_micros(col("ts")) > cutoffUs).repartition(2), "append")
    val nNew = events.count() - nOld

    val plans = new ConcurrentLinkedQueue[String]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val decoded = new AtomicLong()
    val readListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => decoded.addAndGet(m.inputMetrics.recordsRead))
    }
    ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(readListener)
    try {
      assert(pass(2L) == ("incremental", nNew))
      ListenerDrain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(readListener)
    }
    val pushed = plans.asScala.flatMap(_.linesIterator).filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(_.matches(""".*PushedFilters: \[[^\]]*GreaterThan\(ts,.*""")), pushed.mkString("\n"))
    info(s"rows decoded on the incremental pass: ${decoded.get} for $nNew new rows ($nOld old source rows)")
  }
}
