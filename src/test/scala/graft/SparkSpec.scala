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
}
