package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf = "/root/testdata/sf0.001"

  val sf001 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath

  /** Spark jobs started while `f` runs. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      ListenerDrain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Spark jobs of a warm (second) build + execute of one registry query at sf0.01. */
  def warmJobs(name: String): Int = {
    def run(): Unit =
      SparkEntry.queries(name)(spark, sf001).write.format("noop").mode("overwrite").save()
    run()
    spark.catalog.clearCache()
    val (_, jobs) = jobsDuring(run())
    spark.catalog.clearCache()
    info(s"$jobs jobs")
    jobs
  }
}
