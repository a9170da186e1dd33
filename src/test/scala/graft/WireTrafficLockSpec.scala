package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.sinks.{ChHttpBatchExecutor, ChHttpClient}
import graft.sources.{Bson, EsRestClient, EsSourceConfig}
import graft.sync.WireSync

/** Wire-traffic lock for the three sync variants: every request each
  * stub receives, and every `PassResult`, over full → incremental →
  * quiescent passes of ES scroll, ES PIT, an ES index with a poisoned
  * row, Mongo with a field that appears mid-stream, and CH→CH — checked
  * line for line against `src/test/resources/wire_traffic_lock.txt`.
  * A refactor of the sync path that changes one request body, one DDL
  * statement or one watermark fails here.
  *
  * Only what runs concurrently is normalised: the order of the data
  * INSERTs within one contiguous run (Spark partitions write in
  * parallel) and the order of the CH source's paged reads. Batch
  * composition follows the Spark partitioning, so the transcript holds
  * for [[SparkSpec]]'s `local[4]` session. On a mismatch the actual
  * transcript is written to `target/wire_traffic_lock.actual.txt`.
  *
  * Every sweep runs at width 1, one object after another, so each
  * object's requests form one block in listing order;
  * `WireConcurrencySpec` checks the default width against that order.
  */
class WireTrafficLockSpec extends SparkSpec {

  private type Results = Seq[Either[(String, String), WireSync.PassResult]]

  /** One stub's request log, read in slices: each slice is the requests
    * that arrived since the previous one.
    */
  private final class Log(name: String, all: () => Seq[String], concurrent: String => Boolean) {
    private var seen = 0
    def slice(): Seq[String] = {
      val now = all()
      val fresh = now.drop(seen)
      seen = now.size
      sortRuns(fresh, concurrent).map(r => s"$name> $r")
    }
  }

  /** Sorts each maximal run of consecutive lines matching `concurrent`. */
  private def sortRuns(lines: Seq[String], concurrent: String => Boolean): Seq[String] =
    if (lines.isEmpty) lines
    else {
      val (run, rest) = lines.span(concurrent)
      if (run.nonEmpty) run.sorted ++ sortRuns(rest, concurrent)
      else { val (other, tail) = rest.span(l => !concurrent(l)); other ++ sortRuns(tail, concurrent) }
    }

  private def dataInsert(sql: String): Boolean =
    sql.startsWith("INSERT INTO ") && !sql.contains("`_sync_state`")
  private def pageRead(sql: String): Boolean = sql.startsWith("SELECT * FROM ")

  private def esLog(es: EsStub) = new Log("es",
    () => es.requests.synchronized(es.requests.toSeq).map { case (m, p, b) => s"$m $p $b" }, _ => false)
  private def chLog(name: String, ch: ChStub, concurrent: String => Boolean) =
    new Log(name, () => ch.requests.synchronized(ch.requests.toSeq), concurrent)
  private def mongoLog(m: MongoStub) =
    new Log("mongo", () => m.synchronized(m.requests.toSeq).map(_.toString), _ => false)

  private val transcript = mutable.ArrayBuffer[String]()

  private def record(label: String, logs: Seq[Log], results: Results): Unit = {
    transcript += s"== $label"
    logs.foreach(transcript ++= _.slice())
    results.foreach(r => transcript += s"result> $r")
  }

  private def doc(id: Int, day: Int, msg: String, updDay: Int, extra: String = ""): String =
    f"""{"id":$id,"created_at":"2024-01-$day%02d 00:00:00","msg":"$msg",""" +
      f"""$extra"updated_at":"2024-01-$updDay%02d 00:00:00"}"""

  private val mapping =
    """{"id":{"type":"long"},"created_at":{"type":"date"},"msg":{"type":"keyword"},""" +
      """"updated_at":{"type":"date"}}"""

  /** ES → CH through `runContinuous`, then one more pass through `run`. */
  private def esScenario(label: String, usePit: Boolean, poison: Option[String],
      extraIndices: Map[String, (Seq[String], String)],
      between: Map[Int, (EsStub, ChStub) => Unit]): Unit = {
    val es = new EsStub(
      indices = Map("app_logs" -> (1 to 7).map(i => doc(i, i, s"m$i", i))) ++ extraIndices.map {
        case (i, (docs, _)) => i -> docs },
      mappings = Map("app_logs" -> mapping) ++ extraIndices.map { case (i, (_, m)) => i -> m })
    val ch = new ChStub
    ch.rejectMarker = poison
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port", "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "3"))
      val client = new EsRestClient(cfg.host)
      val tgt = new ChHttpClient(ch.endpoint)
      val ep = ch.endpoint
      val logs = Seq(esLog(es), chLog("ch", ch, dataInsert))
      def variant() = WireSync.esVariant(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 4, usePit = usePit).copy(width = 1)
      variant().runContinuous(maxPasses = 4, intervalMs = 0L,
        onPassEnd = (p, r) => {
          record(s"$label pass $p", logs, r)
          between.get(p).foreach(_(es, ch))
        })
      record(s"$label run", logs, variant().run().map(Right(_)))
    } finally { es.stop(); ch.stop() }
  }

  private def runScenarios(): Unit = {
    // scroll: an index with no time field (full every pass) beside a
    // dual-watermark one whose mapping gains a field mid-stream
    esScenario("es-scroll", usePit = false, poison = None,
      extraIndices = Map("app_dims" ->
        (Seq("""{"code":"a","label":"x"}""", """{"code":"b","label":"y"}"""),
          """{"code":{"type":"keyword"},"label":{"type":"keyword"}}""")),
      between = Map(
        1 -> { (es, _) =>
          es.addDoc("app_logs", "8", doc(8, 8, "m8", 8))
          es.updateDoc("app_logs", "2", doc(2, 2, "m2-EDITED", 9))
        },
        2 -> { (es, _) =>
          es.updateMapping("app_logs", mapping.dropRight(1) + ""","note":{"type":"keyword"}}""")
          es.addDoc("app_logs", "9", doc(9, 9, "m9", 9, extra = """"note":"hello","""))
        }))
    esScenario("es-pit", usePit = true, poison = None, extraIndices = Map.empty,
      between = Map(1 -> { (es, _) =>
        es.addDoc("app_logs", "8", doc(8, 8, "m8", 8))
        es.updateDoc("app_logs", "3", doc(3, 3, "m3-EDITED", 9))
      }))
    // pass 1 loses the poisoned row and must not advance; the target
    // heals after it, so pass 2 is a full re-read
    esScenario("es-poison", usePit = false, poison = Some("m4"), extraIndices = Map.empty,
      between = Map(
        1 -> ((_, ch) => ch.rejectMarker = None),
        2 -> ((es, _) => es.addDoc("app_logs", "8", doc(8, 8, "m8", 8)))))
    mongoScenario()
    chScenario()
  }

  private def mongoScenario(): Unit = {
    def mdoc(i: Int, extra: Option[String] = None): ListMap[String, Any] = {
      val base = ListMap[String, Any]("_id" -> Bson.Oid(f"$i%024x"), "v" -> s"d$i",
        "meta" -> ListMap[String, Any]("n" -> i))
      extra.fold(base)(e => base + ("extra" -> e))
    }
    val mongo = new MongoStub
    mongo.seed("shop", "items", (1 to 9).map(i => mdoc(i)))
    mongo.seed("shop", "logs", (101 to 102).map(i => mdoc(i)))
    val (host, port) = mongo.start()
    val ch = new ChStub
    ch.start()
    try {
      val tgt = new ChHttpClient(ch.endpoint)
      val ep = ch.endpoint
      val logs = Seq(mongoLog(mongo), chLog("ch", ch, dataInsert))
      def variant() = WireSync.mongoVariant(spark, host, port, "shop", Seq("items", "logs"), tgt,
        () => new ChHttpBatchExecutor(ep), targetDb = "wh", batchSize = 4, insertBatchSize = 4).copy(width = 1)
      variant().runContinuous(maxPasses = 3, intervalMs = 0L,
        onPassEnd = (p, r) => {
          record(s"mongo pass $p", logs, r)
          if (p == 1) {
            mongo.seed("shop", "items", (1 to 9).map(i => mdoc(i)) ++
              Seq(mdoc(10), mdoc(11, Some("bonus")), mdoc(12)))
          }
        })
      record("mongo run", logs, variant().run().map(Right(_)))
    } finally { mongo.stop(); ch.stop() }
  }

  private def chScenario(): Unit = {
    val source = new ChStub
    val target = new ChStub
    source.seed("shop", "orders", Seq(("id", "Int64"), ("created_at", "Nullable(DateTime64(6))")),
      (1 to 12).map(i => Seq(i.toString, f"2024-01-$i%02d 00:00:00.000000")))
    source.seed("shop", "dims", Seq(("code", "String"), ("label", "Nullable(String)")),
      Seq(Seq("a", "x"), Seq("b", "it's")))
    source.start()
    target.start()
    try {
      val tgt = new ChHttpClient(target.endpoint)
      val ep = target.endpoint
      val logs = Seq(chLog("chsrc", source, pageRead), chLog("ch", target, dataInsert))
      def variant() = WireSync.chVariant(spark, source.endpoint, "shop", tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "bh", batchSize = 5, insertBatchSize = 4, orderKeys = Map.empty).copy(width = 1)
      variant().runContinuous(maxPasses = 3, intervalMs = 0L,
        onPassEnd = (p, r) => {
          record(s"ch pass $p", logs, r)
          if (p == 1) source.tables(("shop", "orders")).rows ++=
            Seq(Seq("13", "2024-02-01 00:00:00.000000"), Seq("14", "2024-02-02 00:00:00.000000"))
        })
      record("ch run", logs, variant().run().map(Right(_)))
    } finally { source.stop(); target.stop() }
  }

  test("wire traffic of every sync variant matches the recorded transcript request for request") {
    runScenarios()
    val actual = transcript.map(_.replace("\n", "\\n").replaceAll("127\\.0\\.0\\.1:\\d+", "127.0.0.1:PORT"))
    val expected = Option(getClass.getResourceAsStream("/wire_traffic_lock.txt"))
      .map(in => try new String(in.readAllBytes(), UTF_8) finally in.close())
      .map(_.split("\n", -1).toSeq.dropRight(1)).getOrElse(Nil)
    if (actual != expected) {
      val out = Paths.get("target", "wire_traffic_lock.actual.txt")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.map(_ + "\n").mkString.getBytes(UTF_8))
      val at = actual.zipAll(expected, "<none>", "<none>").indexWhere { case (a, e) => a != e }
      fail(s"transcript differs at line ${at + 1} (actual in $out):\n" +
        s"  expected: ${expected.lift(at).getOrElse("<none>")}\n  actual:   ${actual.lift(at).getOrElse("<none>")}")
    }
  }
}
