package graft.sync

/** Connect-time health checks — the reference probes every endpoint
  * before starting work (`connect_bytehouse` runs SELECT 1,
  * `test_es_connection` hits /_cluster/health,
  * es_to_bytehouse.py:200-238) and refuses to sync on failure. Here
  * the probe is a thunk (JDBC, filesystem, HTTP — anything), wrapped
  * in bounded exponential backoff so a deployment loop rides out a
  * restarting target instead of dying on the first connect, and
  * alerts through the existing [[Alerts.Alerter]] channel.
  */
object Health {

  /** Run `f`, retrying up to `maxAttempts` with exponential backoff.
    * Each failed attempt warns (rate-limited by the alerter); final
    * failure alerts at ERROR and rethrows — callers must not advance
    * sync state past it. `sleep` is injectable so tests don't wait.
    */
  def withRetry[T](
      what: String,
      maxAttempts: Int = 3,
      backoffMs: Long = 50L,
      alerter: Option[Alerts.Alerter] = None,
      sleep: Long => Unit = Thread.sleep
  )(f: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      try return f
      catch {
        case e: Exception if attempt < maxAttempts =>
          alerter.foreach(_.warn(
            s"$what attempt $attempt/$maxAttempts failed: ${e.getMessage}; retrying"))
          sleep(backoffMs * (1L << (attempt - 1)))
        case e: Exception =>
          alerter.foreach(_.error(
            s"$what failed after $maxAttempts attempts: ${e.getMessage}"))
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Filesystem probe for parquet-lake targets: the Hadoop FS must be
    * reachable and the path's parent listable.
    */
  def probePath(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an absent target dir is fine (first sync creates it); an
    // unreachable filesystem throws here, before any work is scheduled
    fs.exists(p)
    ()
  }
}
