package graft

import scala.collection.mutable

import graft.sinks.{ChHttpBatchExecutor, ChHttpClient}
import graft.sources.{EsRestClient, EsSourceConfig}
import graft.sync.WireSync

/** The objects of one sweep sync concurrently, at most one per driver
  * core. Run at the default width, the ES loop and the one-shot sweep
  * must send each stub the same requests per pass as the width-1 sweep
  * the traffic lock records (as a multiset: the objects interleave, and
  * cursor ids are renamed per index), return the same results in
  * listing order, and leave the same target tables and `_sync_state`.
  * A failing object costs only itself: `run()` lands the others and
  * then rethrows, `runContinuous` reports it as one `Left`, and no pool
  * thread outlives the call.
  */
class WireConcurrencySpec extends SparkSpec {

  private type Results = Seq[Either[(String, String), WireSync.PassResult]]

  private def doc(id: Int, day: Int, msg: String, updDay: Int, extra: String = ""): String =
    f"""{"id":$id,"created_at":"2024-01-$day%02d 00:00:00","msg":"$msg",""" +
      f"""$extra"updated_at":"2024-01-$updDay%02d 00:00:00"}"""

  private val mapping =
    """{"id":{"type":"long"},"created_at":{"type":"date"},"msg":{"type":"keyword"},""" +
      """"updated_at":{"type":"date"}}"""
  private val dimsMapping = """{"code":{"type":"keyword"},"label":{"type":"keyword"}}"""
  private val dims = Seq("""{"code":"a","label":"x"}""", """{"code":"b","label":"y"}""")

  /** An ES client that remembers the threads its mapping reads ran on,
    * one per object synced.
    */
  private final class ThreadsSeen(host: String, maxRetries: Int)
      extends EsRestClient(host, maxRetries = maxRetries, retrySleep = _ => ()) {
    val threads = mutable.ArrayBuffer[Thread]()
    override def mappingFieldsDetailed(index: String): Map[String, (String, String)] = {
      threads.synchronized(threads += Thread.currentThread)
      super.mappingFieldsDetailed(index)
    }
  }

  /** Renames every scroll and PIT id to `<kind>:<index>#<n>`, the n-th
    * cursor opened on that index. The stub serves one request at a time
    * and numbers cursors in arrival order, so the log alone says which
    * index owns an id.
    */
  private final class Cursors {
    private val OpenScroll = "/([^/]+)/_search\\?scroll=.*".r
    private val OpenPit = "/([^/]+)/_pit\\?.*".r
    private var scrolls = 0
    private var pits = 0
    private val names = mutable.Map[String, String]()
    private val opened = mutable.Map[String, Int]().withDefaultValue(0)
    private def name(id: String, kind: String, index: String): Unit = {
      opened(s"$kind:$index") += 1
      names(id) = s"$kind:$index#${opened(s"$kind:$index")}"
    }
    def apply(method: String, path: String, body: String): String = {
      path match {
        case OpenScroll(ix) => scrolls += 1; name(s"scroll-$scrolls", "scroll", ix)
        case OpenPit(ix)    => pits += 1; name(s"pit-$pits", "pit", ix)
        case _              => ()
      }
      "(scroll|pit)-\\d+".r.replaceAllIn(s"$method $path $body", m => names.getOrElse(m.matched, m.matched))
    }
  }

  /** What one scenario leaves: per pass, the sorted ES and CH requests
    * and the results; then every target table's schema and sorted rows.
    */
  private case class Outcome(passes: Seq[(String, Seq[String], Seq[String], Results)],
      tables: Map[(String, String), (Seq[(String, String)], Seq[String])])

  /** The lock's ES scenario (4 loop passes, then one `run()`) over
    * `indices`, with `between(p)` moving the source after pass p. Width
    * `Some(1)` goes through the variant, `None` through the public
    * entry points.
    */
  private def scenario(width: Option[Int], usePit: Boolean, indices: Map[String, (Seq[String], String)],
      between: Map[Int, EsStub => Unit]): (Outcome, Seq[Thread]) = {
    val es = new EsStub(indices.map { case (i, (d, _)) => i -> d }, indices.map { case (i, (_, m)) => i -> m })
    val ch = new ChStub
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port", "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "3"))
      val client = new ThreadsSeen(cfg.host, maxRetries = 3)
      val tgt = new ChHttpClient(ch.endpoint)
      val ep = ch.endpoint
      val cursors = new Cursors
      var esSeen, chSeen = 0
      val passes = mutable.ArrayBuffer[(String, Seq[String], Seq[String], Results)]()
      def record(label: String, r: Results): Unit = {
        val esNow = es.requests.synchronized(es.requests.toSeq)
        val chNow = ch.requests.synchronized(ch.requests.toSeq)
        passes += ((label, esNow.drop(esSeen).map { case (m, p, b) => cursors(m, p, b) }.sorted,
          chNow.drop(chSeen).sorted, r))
        esSeen = esNow.size
        chSeen = chNow.size
      }
      val onPassEnd = (p: Int, r: Results) => { record(s"pass $p", r); between.get(p).foreach(_(es)) }
      def variant() = WireSync.esVariant(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", insertBatchSize = 4, usePit = usePit).copy(width = width.get)
      if (width.isDefined) variant().runContinuous(4, 0L, onPassEnd)
      else WireSync.runContinuous(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
        targetDb = "wh", maxPasses = 4, insertBatchSize = 4, usePit = usePit, onPassEnd = onPassEnd)
      val last =
        if (width.isDefined) variant().run()
        else WireSync.run(spark, client, cfg, tgt, () => new ChHttpBatchExecutor(ep),
          targetDb = "wh", insertBatchSize = 4, usePit = usePit)
      record("run", last.map(Right(_)))
      val tables = ch.synchronized(ch.tables.toMap).map { case (k, t) =>
        k -> (t.schema, t.rows.map(_.mkString("|")).toSeq.sorted) }
      (Outcome(passes.toSeq, tables), client.threads.toSeq)
    } finally { es.stop(); ch.stop() }
  }

  private val cores = Runtime.getRuntime.availableProcessors

  /** The default width against width 1, and the threads the default
    * sweep ran on: `min(cores, objects)` pool threads per sweep (or
    * the caller's own thread at one core), all gone afterwards.
    */
  private def assertSameAsSequential(usePit: Boolean, indices: Map[String, (Seq[String], String)],
      between: Map[Int, EsStub => Unit]): Unit = {
    val (sequential, seqThreads) = scenario(Some(1), usePit, indices, between)
    val (concurrent, threads) = scenario(None, usePit, indices, between)
    assert(seqThreads.distinct == Seq(Thread.currentThread), "width 1 runs on the calling thread")
    assert(concurrent.passes.map(_._1) == sequential.passes.map(_._1))
    concurrent.passes.zip(sequential.passes).foreach { case ((label, es, ch, r), (_, es1, ch1, r1)) =>
      assert(r == r1, s"$label results")
      assert(es == es1, s"$label ES requests")
      assert(ch == ch1, s"$label CH requests")
    }
    assert(concurrent.tables == sequential.tables)
    assert(concurrent.tables.contains(("wh", "_sync_state")))
    assert(threads.size == sequential.passes.map(_._4.size).sum, "one mapping read per object synced")
    if (cores > 1) {
      // 5 sweeps, each on its own pool of min(cores, objects) threads
      assert(threads.forall(_.getName.startsWith("graft-sweep-")), threads.map(_.getName).toString)
      assert(threads.distinct.size == 5 * math.min(cores, indices.size), threads.map(_.getName).toString)
    }
    assertAllEnded(threads)
  }

  private def assertAllEnded(threads: Seq[Thread]): Unit = {
    val pool = threads.distinct.filterNot(_ eq Thread.currentThread)
    // an idle pool thread never ends on its own; a shut-down one ends at once
    pool.foreach(_.join(10000L))
    assert(pool.forall(!_.isAlive), s"pool threads alive: ${pool.filter(_.isAlive).map(_.getName)}")
  }

  private val twoIndexMoves: Map[Int, EsStub => Unit] = Map(
    1 -> { es =>
      es.addDoc("app_logs", "8", doc(8, 8, "m8", 8))
      es.updateDoc("app_logs", "2", doc(2, 2, "m2-EDITED", 9))
    },
    2 -> { es =>
      es.updateMapping("app_logs", mapping.dropRight(1) + ""","note":{"type":"keyword"}}""")
      es.addDoc("app_logs", "9", doc(9, 9, "m9", 9, extra = """"note":"hello","""))
    })

  private val twoIndices = Map(
    "app_logs" -> ((1 to 7).map(i => doc(i, i, s"m$i", i)), mapping),
    "app_dims" -> ((dims, dimsMapping)))

  test("ES scroll, two indices: the default width sends the width-1 requests, results and rows") {
    assertSameAsSequential(usePit = false, twoIndices, twoIndexMoves)
  }

  test("ES scroll and PIT, three indices: the default width sends the width-1 requests, results and rows") {
    val threeIndices = twoIndices +
      ("app_events" -> ((11 to 20).map(i => doc(i, i, s"e$i", i)), mapping))
    val moves = twoIndexMoves ++ Map(3 -> { (es: EsStub) =>
      es.addDoc("app_events", "21", doc(21, 21, "e21", 21))
      es.updateDoc("app_events", "3", doc(13, 13, "e13-EDITED", 22))
    })
    assertSameAsSequential(usePit = false, threeIndices, moves)
    assertSameAsSequential(usePit = true, threeIndices, moves)
  }

  /** A two-index target after `body` ran against it. */
  private def withFailingIndex[T](body: (EsStub, ChStub, ThreadsSeen, EsSourceConfig) => T): T = {
    val es = new EsStub(twoIndices.map { case (i, (d, _)) => i -> d }, twoIndices.map { case (i, (_, m)) => i -> m })
    val ch = new ChStub
    val port = es.start()
    ch.start()
    try {
      val cfg = EsSourceConfig.fromEnv(Map(
        "ES_HOST" -> s"http://127.0.0.1:$port", "INDEX_PATTERN" -> "app_*", "SCROLL_SIZE" -> "3"))
      // two 503s on one index's search open exhaust maxRetries = 1
      body(es, ch, new ThreadsSeen(cfg.host, maxRetries = 1), cfg)
    } finally { es.stop(); ch.stop() }
  }

  private def stateMarks(ch: ChStub, index: String): Seq[String] = {
    val st = ch.tables(("wh", "_sync_state"))
    def cell(r: Seq[String], c: String) = r(st.schema.indexWhere(_._1 == c))
    st.rows.filter(cell(_, "index_name") == index).map(cell(_, "last_sync_time")).toSeq
  }

  test("run(): a failing index's error propagates after the other index lands and commits") {
    withFailingIndex { (es, ch, client, cfg) =>
      val ep = ch.endpoint
      // app_dims lists first: under a sequential sweep that stops at the
      // first failure, app_logs would never run
      es.failures ++= Seq.fill(2)(("/app_dims/_search", 503, ""))
      val e = intercept[IllegalArgumentException](WireSync.run(spark, client, cfg, new ChHttpClient(ep),
        () => new ChHttpBatchExecutor(ep), targetDb = "wh", insertBatchSize = 4))
      assert(e.getMessage.contains("/app_dims/_search") && e.getMessage.contains("HTTP 503"), e.getMessage)
      assert(es.failures.isEmpty)
      assert(ch.tables(("wh", "app_logs")).rows.size == 7)
      assert(ch.tables(("wh", "app_dims")).rows.isEmpty, "the failed index wrote nothing")
      assert(stateMarks(ch, "app_logs") == Seq("2024-01-07 00:00:00"))
      assert(client.threads.size == 2)
      assertAllEnded(client.threads.toSeq)
    }
  }

  test("runContinuous: a failing index is one Left beside the other's Right; its next pass resumes from the old watermark") {
    withFailingIndex { (es, ch, client, cfg) =>
      val ep = ch.endpoint
      val passes = WireSync.runContinuous(spark, client, cfg, new ChHttpClient(ep),
        () => new ChHttpBatchExecutor(ep), targetDb = "wh", maxPasses = 3, insertBatchSize = 4,
        onPassEnd = (p, _) => if (p == 1) {
          es.addDoc("app_logs", "8", doc(8, 8, "m8", 8))
          es.failures ++= Seq.fill(2)(("/app_logs/_search", 503, ""))
        })
      def mode(r: Either[(String, String), WireSync.PassResult]) = r.map(p => (p.index, p.mode, p.rows))
      assert(passes(0).map(mode) == Seq(Right(("app_dims", "full", 2L)), Right(("app_logs", "full", 7L))))
      assert(passes(1).size == 2 && passes(1)(0).map(_.index) == Right("app_dims"), passes(1).toString)
      val (name, error) = passes(1)(1).swap.toOption.get
      assert(name == "app_logs" && error.contains("HTTP 503"), error)
      assert(passes(2).map(mode) == Seq(Right(("app_dims", "full", 2L)), Right(("app_logs", "incremental", 1L))))
      assert(stateMarks(ch, "app_logs") == Seq("2024-01-07 00:00:00", "2024-01-08 00:00:00"))
      assert(ch.tables(("wh", "app_logs")).rows.size == 8)
      assertAllEnded(client.threads.toSeq)
    }
  }
}
