package graft.sync

/** Sync alerting — the reference ships WARNING+ log records to a chat
  * webhook with per-message rate limiting (es_to_bytehouse.py:85-140,
  * `FeishuHandler`: severity filter, 60s min interval per distinct
  * message, card payload). Re-expressed for Spark: the transport is a
  * pluggable `String => Unit` (an HTTP POST in production — no egress
  * in tests, which inject a recorder), severity and rate limiting are
  * the alerter's job, and `SyncRunner.runContinuous` alerts through
  * [[guarded]] on every failed pass, so a sync dying mid-night pages
  * instead of silently stopping — the failure mode the reference's
  * handler exists for.
  */
object Alerts {

  sealed abstract class Level(val rank: Int, val label: String)
  case object Info extends Level(0, "INFO")
  case object Warning extends Level(1, "WARNING")
  case object Error extends Level(2, "ERROR")

  /** Severity-filtered, per-message rate-limited alert emitter.
    * `clock` is injectable so the 60s window is deterministic in tests
    * (same contract as the reference: one send per distinct
    * (level, first-100-chars) key per interval; INFO never sent).
    *
    * `send` MUST be thread-safe: different-key alerts from different
    * threads (e.g. several sync loops sharing one alerter) invoke it
    * CONCURRENTLY — deliberately, so one hung delivery can't stall the
    * others. An HTTP client per call (or a concurrent queue) is fine;
    * a shared unsynchronized buffer or connection is not.
    */
  final class Alerter(
      send: String => Unit,
      minIntervalMs: Long = 60000L,
      clock: () => Long = () => System.currentTimeMillis()
  ) {
    private val lastSent = scala.collection.mutable.HashMap.empty[String, Long]

    def warn(msg: String): Boolean = emit(Warning, msg)
    def error(msg: String): Boolean = emit(Error, msg)

    /** Returns true when the alert was actually sent (not filtered or
      * rate-limited) — callers log the suppression either way.
      *
      * The transport runs OUTSIDE the lock: in production `send` is a
      * blocking HTTP POST — a hung webhook must not stall other
      * threads' warn/error behind the monitor.
      */
    def emit(level: Level, msg: String): Boolean = {
      if (level.rank < Warning.rank) return false
      val key = s"${level.label}:${msg.take(100)}"
      val now = clock()
      val due = synchronized {
        val d = lastSent.get(key).forall(t => now - t >= minIntervalMs)
        if (d) {
          lastSent(key) = now
          // keys embedding unique ids (query UUIDs, pass numbers)
          // never repeat — evict expired entries so a long-running
          // loop's rate-limit map stays bounded
          if (lastSent.size > 1024)
            lastSent.filterInPlace((_, t) => now - t < minIntervalMs)
        }
        d
      }
      if (due) send(payload(level, msg, now))
      due
    }
  }

  /** The wire payload: one JSON object with the same fields as the
    * reference's card (level, message, epoch-ms time). Kept flat and
    * stable so any chat webhook (or a log aggregator) can ingest it.
    */
  def payload(level: Level, msg: String, timeMs: Long): String = {
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    s"""{"level":"${level.label}","message":"${esc(msg)}","time_ms":$timeMs}"""
  }

  /** Batch-pass guard: run one sync step, alert at ERROR on throw and
    * rethrow (state must never advance past a failed step — same rule
    * as PartitionedUpsert.promote).
    */
  def guarded[T](alerter: Alerter, what: String)(f: => T): T =
    try f
    catch {
      case e: Throwable =>
        alerter.error(s"$what failed: ${e.getMessage}")
        throw e
    }
}
